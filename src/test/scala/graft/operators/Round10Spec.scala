package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{AudioChroma, AudioCode, AudioInterval,
  AudioLandmark, AudioOnset, AudioSpectralCode, AudioSpectralLandmark,
  ImageAffine, ImageAffineFrame, ImageAffineFrameChiral,
  ImageAffineFrameSqueezeFan, ImagePeak, ImageRotScale, ImageScale,
  ImageScaleAspect, ImageScaleCanonical, ImageScaleDihedral, PHash, PHashCrop,
  PHashDihedral, PHashFlip, PHashRot, VideoAffine, VideoAffineFrame, VideoCrop,
  VideoFrames, VideoFramesDihedral, VideoFramesFlip, VideoPeak, VideoRotScale,
  VideoScale, VideoScaleAspect, VideoScaleCanonical, VideoSkip}

/** Round-10 additions: the hot-bucket state caps the round-9 verdict
  * named for the VERDICT-emitting streaming family (st68/st72/st78/
  * st80) — foldProbe bounds both state and per-arrival scan cost while
  * keeping every planted decision — plus the packed band-signature
  * state and the orientation-aware ChunkVerdictO record shape. */
class Round10Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---- foldProbe: the verdict-family cap kernel ----------------------

  test("foldProbe bounds state at maxBucket; capped arrivals still probe retained members") {
    // all-match predicate: every arrival matches every member
    val batches = Seq(Seq(1L, 2L), Seq(3L, 4L, 5L), Seq(6L), Seq(7L, 8L))
    for (maxBucket <- Seq(0, 1, 3, 100)) {
      var seen: List[(Long, Unit)] = Nil
      var verdicts = Map.empty[Long, Option[Long]]
      batches.foreach { ids =>
        val (ns, out) = StreamingNearDup.foldProbe(
          seen, ids.map(id => (id, (), true)), maxBucket)((_, _) => true)
        seen = ns
        verdicts ++= ids.zip(out)
      }
      if (maxBucket > 0)
        assert(seen.size <= maxBucket, s"state ${seen.size} > cap $maxBucket")
      else assert(seen.size == 8)
      // min-id verdict survives the cap: retained members are the
      // lowest ids, which is what every verdict wants
      assert(verdicts(1L).isEmpty)
      (2L to 8L).foreach { id =>
        assert(verdicts(id).contains(1L), s"doc $id: ${verdicts(id)}")
      }
    }
    // register=false rows (orientation probes) never enter state
    val (s2, out2) = StreamingNearDup.foldProbe(
      List.empty[(Long, Unit)],
      Seq((1L, (), true), (2L, (), false), (3L, (), true)),
      0)((_, _) => true)
    assert(s2.map(_._1).toSet == Set(1L, 3L))
    assert(out2 == Seq(None, Some(1L), Some(1L)))
    // self-matches excluded even when the same id probes twice
    val (_, out3) = StreamingNearDup.foldProbe(
      List((5L, ())), Seq((5L, (), false)), 0)((_, _) => true)
    assert(out3 == Seq(None))
  }

  test("foldProbe differential: randomized arrivals match a naive reference") {
    val rnd = new scala.util.Random(5L)
    def matches(a: Int, b: Int): Boolean = (a - b).abs <= 1
    for (_ <- 0 until 50) {
      val arrivals = Seq.fill(30)((rnd.nextInt(10).toLong, rnd.nextInt(4),
        rnd.nextBoolean()))
      for (cap <- Seq(0, 1, 3, 7)) {
        // naive reference: scan-all verdict, register until the cap
        var seen = List.empty[(Long, Int)]
        var n = 0
        val expected = arrivals.map { case (id, p, reg) =>
          val hit = seen.collect {
            case (eid, ep) if eid != id && matches(p, ep) => eid
          } match { case Nil => None; case xs => Some(xs.min) }
          if (reg && (cap == 0 || n < cap)) { seen = (id, p) :: seen; n += 1 }
          hit
        }
        val (sGot, got) = StreamingNearDup.foldProbe(
          List.empty[(Long, Int)], arrivals, cap)(matches)
        assert(got == expected, s"cap=$cap verdicts diverge")
        assert(sGot == seen, s"cap=$cap state diverges")
        if (cap > 0) assert(sGot.size <= cap)
      }
    }
  }

  test("packSig: equality-preserving, null components never match") {
    val a = StreamingNearDup.packSig(Seq("00ff" * 8, null, "aa" * 16))
    val b = StreamingNearDup.packSig(Seq("00ff" * 8, null, "bb" * 16))
    assert(a(0) == b(0))
    assert(a(1) == StreamingNearDup.PackedNull)
    assert(b(1) == StreamingNearDup.PackedNull)
    assert(a(2) != b(2))
    // a real component that packs to the sentinel is remapped, so no
    // real component ever equals a null slot
    val s = StreamingNearDup.packSig(Seq("8000000000000000" + "00" * 8))
    assert(s(0) != StreamingNearDup.PackedNull)
  }

  // ---- st68 bandVerdicts: capped decisions match uncapped ------------

  test("bandVerdicts maxBucket keeps planted + hot-bucket decisions") {
    import spark.implicits._
    val long1 = (1 to 40).map(i => s"tok$i").mkString(" ")
    val long2 = (1 to 40).map(i => s"other$i").mkString(" ")
    val boiler = (1 to 40).map(i => s"boiler$i").mkString(" ")
    // planted near-dup pair + 30 identical boilerplate docs whose
    // shared band buckets would otherwise grow with the corpus
    val docs = (Seq((1L, long1), (2L, long2), (3L, long1 + " appended tail")) ++
      (100L until 130L).map(id => (id, boiler))).toDF("doc_id", "text")
    def decisions(maxBucket: Int): Map[Long, Option[Long]] =
      StreamingNearDup.bandVerdicts(docs, "doc_id", "text", maxBucket = maxBucket)
        .collect().groupBy(_.doc_id)
        .map { case (id, vs) =>
          (id, vs.flatMap(_.dup_src) match {
            case Array() => None
            case xs => Some(xs.min)
          })
        }
    val capped = decisions(maxBucket = 4)
    val uncapped = decisions(maxBucket = 0)
    assert(capped == uncapped, s"cap changed decisions:\n$capped\nvs\n$uncapped")
    assert(capped(3L).contains(1L), "appended-tail mutant must dedup to doc 1")
    assert(capped(1L).isEmpty && capped(2L).isEmpty)
    // every boilerplate copy still resolves to the first one: the cap
    // retains the LOWEST ids, exactly what a min-id verdict consults
    (101L until 130L).foreach { id =>
      assert(capped(id).contains(100L), s"doc $id: ${capped(id)}")
    }
  }

  // ---- st72 pHashVerdicts: capped decisions match uncapped -----------

  test("pHashVerdicts maxBucket keeps planted decisions amid a hot identical-image bucket") {
    val png = udf((id: Long) =>
      if (id < 6) Multimodal.syntheticPng(id)
      else if (id < 200) Multimodal.syntheticPngVariant(id - 194) // ids 194..199 -> variants of 0..5
      else Multimodal.syntheticPng(999)) // 30 identical copies: the hot bucket
    val media = spark.range(0, 6).union(spark.range(194, 230))
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    def decisions(maxBucket: Int): Map[Long, Option[Long]] =
      StreamingNearDup.pHashVerdicts(media, "doc_id", "payload",
          maxBucket = maxBucket)
        .collect().groupBy(_.doc_id)
        .map { case (id, vs) =>
          (id, vs.flatMap(_.dup_src) match {
            case Array() => None
            case xs => Some(xs.min)
          })
        }
    val capped = decisions(maxBucket = 4)
    val uncapped = decisions(maxBucket = 0)
    assert(capped == uncapped, s"cap changed decisions:\n$capped\nvs\n$uncapped")
    (0L until 6L).foreach(id => assert(capped(id).isEmpty, s"base $id"))
    // edited variants drift: most land on their source, some pass
    // hamming 3 and are kept (the m85 drift precedent) — what the cap
    // must preserve is the decision, landed or not (asserted above)
    val landed = (194L until 200L).count(id => capped(id).contains(id - 194L))
    assert(landed >= 4, s"only $landed/6 variants landed")
    (201L until 230L).foreach { id =>
      assert(capped(id).contains(200L), s"hot copy $id: ${capped(id)}")
    }
  }

  // ---- st78/st80: ChunkVerdictO shape + capped decisions -------------

  test("pHashVerdictsFlipTolerant: unique (doc, orient, chunk) keys, cap keeps decisions") {
    val png = udf((id: Long) =>
      if (id < 6) Multimodal.syntheticPng(id)
      else if (id < 200) Multimodal.syntheticPngFlip(id - 194)
      else Multimodal.syntheticPng(999))
    val media = spark.range(0, 6).union(spark.range(194, 230))
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    def run(maxBucket: Int): Seq[ChunkVerdictO] =
      StreamingNearDup.pHashVerdictsFlipTolerant(media, "doc_id", "payload",
        maxBucket = maxBucket).collect().toSeq
    val capped = run(maxBucket = 4)
    // the record shape the round-9 advice asked for: no two rows share
    // a full (doc_id, orient, chunk) key
    val keys = capped.map(v => (v.doc_id, v.orient, v.chunk))
    assert(keys.distinct.size == keys.size, "duplicate (doc,orient,chunk) keys")
    def decide(vs: Seq[ChunkVerdictO]): Map[Long, Option[Long]] =
      vs.groupBy(_.doc_id).map { case (id, xs) =>
        (id, xs.flatMap(_.dup_src) match {
          case Seq() => None
          case ys => Some(ys.min)
        })
      }
    val cd = decide(capped)
    val ud = decide(run(maxBucket = 0))
    assert(cd == ud, s"cap changed decisions:\n$cd\nvs\n$ud")
    (194L until 200L).foreach { id =>
      assert(cd(id).contains(id - 194L), s"mirrored repost $id: ${cd(id)}")
    }
    (201L until 230L).foreach { id =>
      assert(cd(id).contains(200L), s"hot copy $id: ${cd(id)}")
    }
  }

  // ---- audio index version stamp (round-9 advice #1) ----------------

  test("dedupAgainstAudioIndex refuses an unstamped or stale-version index") {
    implicit val sp: SparkSession = spark
    val wav = udf((id: Long) => Multimodal.syntheticWavTex(id, 256))
    val media = spark.range(0, 3)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val index = Multimodal.index(AudioCode)(media)
    // a same-version index screens normally (every probe self-matches
    // its own index row, so all come back dup)
    assert(Multimodal.screen(AudioCode)(media, index).count() == 3)
    // an index from before versioning (no fp_ver column) fails fast —
    // cross-version codes silently match nothing, the failure mode
    // this guard exists for
    intercept[IllegalArgumentException] {
      Multimodal.screen(AudioCode)(media, index.drop("fp_ver"))
    }
    // a stamped-but-stale index fails fast too
    intercept[IllegalArgumentException] {
      Multimodal.screen(AudioCode)(media, index.withColumn("fp_ver", lit(1)))
    }

    // every stamped screen, table-driven: an unstamped index and a
    // wrong-version one both throw before any probe decode, naming the
    // builder in a rebuild instruction. The probe batches are empty —
    // the gate must fire on the index alone.
    import sp.implicits._
    val noMedia = Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload")
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val M = Multimodal
    val screens: Seq[(String, String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)] = Seq(
      ("dedupAgainstAudioIndex", "audioCodeIndex",
        M.screen(AudioCode)(noMedia, _)),
      ("dedupAgainstAudioSpectralIndex", "audioSpectralCodeIndex",
        M.screen(AudioSpectralCode)(noMedia, _)),
      ("dedupAgainstAudioOnsetIndex", "audioOnsetLandmarkIndex",
        M.screen(AudioOnset())(noMedia, _)),
      ("dedupAgainstAudioIntervalIndex", "audioIntervalLandmarkIndex",
        M.screen(AudioInterval())(noMedia, _)),
      ("dedupAgainstAudioChromaIndex", "audioChromaLandmarkIndex",
        M.screen(AudioChroma())(noMedia, _)),
      ("dedupAgainstPHashIndex", "pHashChunkIndex",
        M.screen(PHash)(noMedia, _)),
      ("dedupAgainstPHashIndexDihedral", "pHashChunkIndex",
        M.screen(PHashDihedral)(noMedia, _)),
      ("dedupAgainstPHashCropIndex", "pHashCropWindowIndex",
        M.screen(PHashCrop())(noMedia, _)),
      ("dedupAgainstImagePeakLossyIndex", "imagePeakLossyIndex",
        M.dedupAgainstImagePeakLossyIndex(noMedia, _)),
      ("dedupAgainstImagePeakIndex", "imagePeakIndex",
        M.screen(ImagePeak())(noMedia, _)),
      ("dedupAgainstVideoPeakIndex", "videoPeakIndex",
        M.screen(VideoPeak())(noMedia, _)),
      ("dedupAgainstImageScaleIndex", "imageScaleLandmarkIndex",
        M.screen(ImageScale())(noMedia, _)),
      ("dedupAgainstImageScaleIndexDihedral", "imageScaleLandmarkIndex",
        M.screen(ImageScaleDihedral())(noMedia, _)),
      ("dedupAgainstImageScaleIndexAspect", "imageScaleLandmarkIndex",
        M.screen(ImageScaleAspect())(noMedia, _)),
      ("dedupAgainstImageCanonicalIndex", "imageCanonicalLandmarkIndex",
        M.screen(ImageScaleCanonical())(noMedia, _)),
      ("dedupAgainstImageAffineIndex", "imageAffineLandmarkIndex",
        M.screen(ImageAffine())(noMedia, _)),
      ("dedupAgainstImageRotScaleIndex", "imageRotScaleLandmarkIndex",
        M.screen(ImageRotScale())(noMedia, _)),
      ("dedupAgainstImageAffineFrameIndex", "imageAffineFrameIndex",
        M.screen(ImageAffineFrame())(noMedia, _)),
      ("dedupAgainstImageAffineFrameIndexSqueezeFan", "imageAffineFrameIndex",
        M.screen(ImageAffineFrameSqueezeFan())(noMedia, _)),
      ("dedupAgainstImageAffineFrameIndexChiral", "imageAffineFrameIndex",
        M.screen(ImageAffineFrameChiral())(noMedia, _)),
      ("dedupAgainstImageAffineFrameIndexVerified",
        "imageAffineFrameAnchorIndex",
        M.dedupAgainstImageAffineFrameIndexVerified(noMedia, _)),
      ("dedupAgainstVideoAffineFrameIndex", "videoAffineFrameIndex",
        M.screen(VideoAffineFrame())(noMedia, _)),
      ("dedupAgainstVideoScaleIndex", "videoScaleLandmarkIndex",
        M.screen(VideoScale())(noMedia, _)),
      ("dedupAgainstVideoScaleIndexAspect", "videoScaleLandmarkIndex",
        M.screen(VideoScaleAspect())(noMedia, _)),
      ("dedupAgainstVideoCanonicalIndex", "videoCanonicalLandmarkIndex",
        M.screen(VideoScaleCanonical())(noMedia, _)),
      ("dedupAgainstVideoAffineIndex", "videoAffineLandmarkIndex",
        M.screen(VideoAffine())(noMedia, _)),
      ("dedupAgainstVideoRotScaleIndex", "videoRotScaleLandmarkIndex",
        M.screen(VideoRotScale())(noMedia, _)),
      ("dedupAgainstVideoCropIndex", "videoCropLandmarkIndex",
        M.screen(VideoCrop())(noMedia, _)),
      ("dedupAgainstVideoSkipIndex", "videoSkipLandmarkIndex",
        M.screen(VideoSkip())(noMedia, _)),
      ("dedupAgainstWinnowIndex", "winnowIndex",
        TextDedup.dedupAgainstWinnowIndex(noDocs, _, "doc_id", "text")),
      ("dedupAgainstCdcIndex", "cdcChunkIndex",
        TextDedup.dedupAgainstCdcIndex(noDocs, _, "doc_id", "text")))
    // the wrong-version index carries every column any screen reads
    // (the anchored screen also needs ax/ay), so only fp_ver is wrong
    val stale = Seq((0L, 99, 0, 0)).toDF("doc_id", "fp_ver", "ax", "ay")
    val unstamped = stale.drop("fp_ver")
    for ((name, builder, screen) <- screens;
         (kind, idx) <- Seq("unstamped" -> unstamped, "stale" -> stale)) {
      val e = intercept[IllegalArgumentException](screen(idx))
      assert(e.getMessage.contains("rebuild") &&
        e.getMessage.contains(builder), s"$name, $kind index: ${e.getMessage}")
    }
  }

  // ---- m106 spectral fingerprint: fractional-resample invariance ----

  test("spectral codes are rate-invariant; the integer tier misses fractional resampling") {
    import spark.implicits._
    def codes(id: Long, rate: Int): Seq[Int] =
      Multimodal.spectralFrameCodes(
        Multimodal.decodeWav(Multimodal.syntheticWavTones(id, rate)).get).toSeq
    for (id <- 0L until 6L) {
      val c8 = codes(id, 8000)
      val c44 = codes(id, 44100)
      assert(c8.nonEmpty, s"id=$id: empty codes")
      assert(c8 == c44,
        s"id=$id: 8 kHz and 44.1 kHz codes differ:\n$c8\n$c44")
      // 16 kHz too — the integer-decimation rate also lands here
      assert(c8 == codes(id, 16000), s"id=$id: 16 kHz differs")
    }
    // discriminative: different ids, different sequences
    assert(codes(0L, 8000) != codes(1L, 8000))
    // the integer tier is provably blind to the 44.1 kHz re-upload:
    // no aligned (frame_idx, code) agreement at all
    implicit val sp: SparkSession = spark
    val wav = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticWavTones(id, 8000)
      else Multimodal.syntheticWavTones(id - 20, 44100))
    val media = spark.range(0, 6).union(spark.range(20, 26))
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val integerPairs = Multimodal.pairs(AudioCode)(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(integerPairs.isEmpty,
      s"integer tier should miss interpolated re-uploads: $integerPairs")
    val spectralPairs = Multimodal.pairs(AudioSpectralCode)(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(spectralPairs == (0L until 6L).map(i => (i, i + 20)).toSet,
      s"spectral tier: $spectralPairs")
  }

  // ---- m112/m113: orientation + spectral probes vs persisted indexes

  test("dihedral index probes catch rotated reposts the plain probe misses") {
    implicit val sp: SparkSession = spark
    val png = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticPng(id)
      else if (id < 30) Multimodal.syntheticPngRot(id - 20, (id % 3 + 1).toInt)
      else Multimodal.syntheticPngRotFlip(id - 30, (id % 3 + 1).toInt))
    val corpus = spark.range(0, 8)
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    val index = Multimodal.pHashChunkIndex(corpus)
    val probes = spark.range(20, 24).union(spark.range(30, 32))
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // the plain as-is probe is blind to every oriented repost
    val plain = verdicts(Multimodal.screen(PHash)(probes, index))
    assert(plain.values.forall(_.isEmpty), s"plain probe matched: $plain")
    // dihedral probes land each on its source, index untouched
    val dih = verdicts(
      Multimodal.screen(PHashDihedral)(probes, index))
    assert(dih == Map(20L -> Some(0L), 21L -> Some(1L), 22L -> Some(2L),
      23L -> Some(3L), 30L -> Some(0L), 31L -> Some(1L)), s"$dih")
  }

  test("spectral index screen catches fractional-resample probes; versions enforced") {
    implicit val sp: SparkSession = spark
    val wav = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticWavTones(id, 8000)
      else Multimodal.syntheticWavTones(id - 20, 44100))
    val corpus = spark.range(0, 6)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val probes = spark.range(20, 26)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    // the integer index shares no codes with interpolated probes
    val intIdx = Multimodal.index(AudioCode)(corpus)
    val intScreen = Multimodal.screen(AudioCode)(probes, intIdx)
      .collect().map(r => (r.getLong(0), r.isNullAt(2))).toMap
    assert(intScreen.values.forall(identity),
      s"integer index must miss 44.1 kHz probes: $intScreen")
    // the spectral index lands every probe on its master
    val spIdx = Multimodal.index(AudioSpectralCode)(corpus)
    val spScreen = Multimodal.screen(AudioSpectralCode)(probes, spIdx)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(spScreen == (20L until 26L).map(i => (i, Some(i - 20L))).toMap,
      s"$spScreen")
    // version lineages are independent: an integer index can never be
    // screened by the spectral path or vice versa
    intercept[IllegalArgumentException] {
      Multimodal.screen(AudioSpectralCode)(probes, intIdx)
    }
    intercept[IllegalArgumentException] {
      Multimodal.screen(AudioCode)(probes, spIdx)
    }
  }

  test("normalizeConfusables folds homoglyph spoofs onto their sources") {
    import spark.implicits._
    val original = "pace xylophone example copy"
    val docs = Seq(original).toDF("text")
    // the t74 spoof: latin -> cyrillic lookalikes + ZWSP at word breaks
    val spoofed = docs.select(regexp_replace(
        translate(col("text"), "aeocpxy",
          "аеосрху"),
        " ", "​ ").as("text"))
      .as[String].head()
    assert(spoofed != original, "spoof must be byte-distinct")
    assert(!spoofed.exists(c => "aeocpxy".contains(c)),
      "every mapped latin letter must have been swapped")
    val Seq(normSpoof, normOrig) =
      Seq(spoofed, original).toDF("text")
        .select(TextAnalysis.normalizeConfusables(col("text")))
        .as[String].collect().toSeq
    assert(normSpoof == original && normOrig == original,
      s"normalization must fold the spoof back: '$normSpoof'")
  }

  test("winnowing guarantee: shared >= w+k-1 token runs always share a fingerprint") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val rnd = new scala.util.Random(7L)
    def words(n: Int) = Seq.fill(n)(s"v${rnd.nextInt(5000)}")
    val k = 4
    val w = 5
    // 30 random docs; docs 100+i embed doc i's middle run of EXACTLY
    // w+k-1 tokens (the guarantee's threshold length) in fresh junk
    val base = (0 until 30).map(i => (i.toLong, words(60).mkString(" ")))
    val planted = (0 until 10).map { i =>
      val tk = base(i)._2.split(" ")
      val run = tk.slice(20, 20 + w + k - 1).toSeq
      ((100 + i).toLong, (words(25) ++ run ++ words(25)).mkString(" "))
    }
    val docs = (base ++ planted).toDF("doc_id", "text")
    // the SWA guarantee: the threshold-length shared run is detected
    val pairs = TextDedup.winnowOverlapPairs(docs, "doc_id", "text", k, w,
        minShared = 1)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    (0 until 10).foreach(i =>
      assert(pairs.contains((i.toLong, (100 + i).toLong)),
        s"planted run $i missed - the winnowing guarantee is broken"))
    // density lands near the theoretical 2/(w+1)
    val fps = TextDedup.winnowFingerprints(docs, "doc_id", "text", k, w)
    val nFp = fps.toDF().count().toDouble
    val nGrams = docs.select(size(split(col("text"), " ")))
      .as[Int].collect().map(n => math.max(n - k + 1, 0)).sum
    val density = nFp / nGrams
    assert(density > 0.15 && density < 0.55,
      s"density $density vs expected ~${2.0 / (w + 1)}")
  }

  test("winnowFingerprints matches a brute-force reference on random corpora") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val k = 4
    val w = 5
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      graft.evm.Hex.encode(md.digest(s.getBytes("UTF-8"))).substring(2)
    }
    // straight-line reference: grams, every window's rightmost min,
    // distinct positions
    def reference(text: String): Set[(Int, String)] = {
      val tk = text.split(" ", -1)
      val grams = (0 to tk.length - k)
        .map(i => md5hex(tk.slice(i, i + k).mkString(" ")))
      if (grams.isEmpty) Set.empty
      else if (grams.length <= w) {
        val best = grams.zipWithIndex.minBy { case (g, i) => (g, -i) }
        Set((best._2 + 1, best._1))
      } else {
        (0 to grams.length - w).map { j =>
          val win = grams.slice(j, j + w).zipWithIndex
          val best = win.minBy { case (g, i) => (g, -i) }
          (j + best._2 + 1, best._1)
        }.toSet
      }
    }
    val rnd = new scala.util.Random(99L)
    val docs = (0 until 60).map { i =>
      // lengths sweep the degenerate (< k, <= w) and normal regimes
      val n = 1 + rnd.nextInt(40)
      (i.toLong, Seq.fill(n)(s"r${rnd.nextInt(40)}").mkString(" "))
    }
    val got = TextDedup.winnowFingerprints(
        docs.toDF("doc_id", "text"), "doc_id", "text", k, w)
      .collect().groupBy(_.doc_id)
      .view.mapValues(_.map(f => (f.pos, f.fp)).toSet).toMap
    docs.foreach { case (id, text) =>
      val exp = reference(text)
      assert(got.getOrElse(id, Set.empty) == exp,
        s"doc $id diverges:\n got ${got.get(id)}\n exp $exp\n '$text'")
    }
  }

  test("cdcChunks matches a brute-force reference on random corpora") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val window = 4
    val minTokens = 4
    val nibbles = 2
    def md5bytes(s: String): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8"))
    }
    def md5hex(s: String): String =
      graft.evm.Hex.encode(md5bytes(s)).substring(2)
    def reference(text: String): Set[(Int, Int, String)] = {
      val tk = text.split(" ", -1)
      val bounds = 0 +: (window to tk.length).filter { i =>
        (md5bytes(tk.slice(i - window, i).mkString(" "))(15) & 0x0f) < nibbles
      }
      val edges = if (bounds.last != tk.length) bounds :+ tk.length else bounds
      edges.zip(edges.tail).collect {
        case (s0, e0) if e0 - s0 >= minTokens =>
          (s0 + 1, e0 - s0, md5hex(tk.slice(s0, e0).mkString(" ")))
      }.toSet
    }
    val rnd = new scala.util.Random(101L)
    val docs = (0 until 60).map { i =>
      val n = 1 + rnd.nextInt(80)
      (i.toLong, Seq.fill(n)(s"q${rnd.nextInt(30)}").mkString(" "))
    }
    val got = TextDedup.cdcChunks(docs.toDF("doc_id", "text"),
        "doc_id", "text", window, minTokens, nibbles)
      .collect().groupBy(_.doc_id)
      .view.mapValues(_.map(c => (c.start, c.n_tokens, c.ch)).toSet).toMap
    docs.foreach { case (id, text) =>
      val exp = reference(text)
      assert(got.getOrElse(id, Set.empty) == exp,
        s"doc $id diverges:\n got ${got.get(id)}\n exp $exp\n '$text'")
    }
  }

  test("spectral codes are amplitude-scale invariant") {
    // the sign-of-adjacent-band-energy bits must survive a re-leveled
    // re-upload: halve every sample of the tone mixture and the code
    // sequence is unchanged (margins are ratios, quantization noise is
    // far below the >= 13% level gap)
    for (id <- 0L until 4L; rate <- Seq(8000, 44100)) {
      val full = Multimodal.decodeWav(
        Multimodal.syntheticWavTones(id, rate)).get
      val halfSamples = full.samples.map(s => (s / 2).toShort)
      val half = full.copy(samples = halfSamples)
      assert(Multimodal.spectralFrameCodes(full).toSeq ==
        Multimodal.spectralFrameCodes(half).toSeq,
        s"id=$id rate=$rate: halving amplitude changed the codes")
    }
  }

  test("CDC chunking re-synchronizes: embedded spans share chunks at any offset") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val rnd = new scala.util.Random(11L)
    def words(n: Int) = Seq.fill(n)(s"c${rnd.nextInt(5000)}")
    // a long source; re-posts embed its middle 80 tokens after junk
    // prefixes of DIFFERENT lengths - fixed-size chunking would align
    // on at most one of them, CDC on all
    val src = words(160)
    val run = src.slice(40, 120)
    val docs = (Seq((0L, src.mkString(" "))) ++
      (1 to 4).map(i => (i.toLong,
        (words(3 + 7 * i) ++ run ++ words(10)).mkString(" "))))
      .toDF("doc_id", "text")
    val pairs = TextDedup.cdcOverlapPairs(docs, "doc_id", "text",
        nibbles = 2, minShared = 2)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    (1L to 4L).foreach(i => assert(pairs.contains((0L, i)),
      s"offset-$i embed missed: CDC failed to re-synchronize"))
    // chunks are deterministic and position-independent: the same
    // interior chunk hashes appear whatever the junk prefix length
    val byDoc = TextDedup.cdcChunks(docs, "doc_id", "text", nibbles = 2)
      .collect().groupBy(_.doc_id).view.mapValues(_.map(_.ch).toSet).toMap
    val interior = byDoc(1L) & byDoc(2L) & byDoc(3L) & byDoc(4L) & byDoc(0L)
    assert(interior.size >= 2, s"interior chunks not shared: $byDoc")
  }

  test("IncrementalIndex.append holds for the spectral and pHash index families") {
    implicit val sp: SparkSession = spark
    // spectral: appended increment == from-scratch rebuild, row sets
    val wav = udf((id: Long) => Multimodal.syntheticWavTones(id, 8000))
    def audio(ids: Seq[Long]) = spark.createDataset(ids)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("id")
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val sIdx0 = Multimodal.index(AudioSpectralCode)(audio(Seq(0L, 1L, 2L)))
    val sIdx1 = IncrementalIndex.append(sIdx0,
      Multimodal.index(AudioSpectralCode)(audio(Seq(3L, 4L))))
    val sFull = Multimodal.index(AudioSpectralCode)(audio(Seq(0L, 1L, 2L, 3L, 4L)))
    // the anti-join inside append moves doc_id first; compare by name
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().toSet
    val sCols = Seq("frame_idx", "code", "doc_id", "nf", "fp_ver")
    assert(rows(sIdx1, sCols: _*) == rows(sFull, sCols: _*))
    // pHash: re-indexing an updated doc replaces its rows (LWW)
    val png = udf((id: Long, v: Int) =>
      if (v == 0) Multimodal.syntheticPng(id)
      else Multimodal.syntheticPngVariant(id))
    def imgs(ids: Seq[Long], v: Int) = spark.createDataset(ids)(
      org.apache.spark.sql.Encoders.scalaLong).toDF("id")
      .select(col("id").as("doc_id"), png(col("id"), lit(v)).as("payload"))
    val pIdx0 = Multimodal.pHashChunkIndex(imgs(Seq(0L, 1L, 2L), 0))
    val pIdx1 = IncrementalIndex.append(pIdx0,
      Multimodal.pHashChunkIndex(imgs(Seq(0L), 1))) // doc 0 updated
    val pFull = Multimodal.pHashChunkIndex(imgs(Seq(0L), 1))
      .unionByName(Multimodal.pHashChunkIndex(imgs(Seq(1L, 2L), 0)))
    val pCols = Seq("chunk", "ckey", "doc_id", "ph")
    assert(rows(pIdx1, pCols: _*) == rows(pFull, pCols: _*))
  }

  // ---- m110/st82: spectral landmarks beat the trim+resample compound

  test("spectral landmarks catch trim+fractional-resample; integer and aligned tiers miss") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val wav = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticWavTones(id, 8000, ms = 640)
      else Multimodal.syntheticWavTones(id - 20, 44100, ms = 512,
        offsetMs = 128))
    val media = spark.range(0, 6).union(spark.range(20, 26))
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    val planted = (0L until 6L).map(i => (i, i + 20)).toSet
    // the compound evades the integer landmark tier (no shared
    // samples) AND the aligned spectral tier (every frame shifted)...
    assert(pairs(Multimodal.pairs(AudioLandmark())(media)).isEmpty,
      "integer landmarks must miss the fractional resample")
    assert(pairs(Multimodal.pairs(AudioSpectralCode)(media)).isEmpty,
      "aligned spectral codes must miss the trim")
    // ...but not the rate-free positionless landmarks
    assert(pairs(Multimodal.pairs(AudioSpectralLandmark())(media)) == planted)
    // streaming form with the shipped cap: every re-delivery lands
    val hits = StreamingNearDup.audioSpectralLandmarkVerdicts(
      media, "doc_id", "payload", maxBucket = 64).toDF().cache()
    val nl = hits.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
      .as[(Long, Long)].collect().toMap
    val emitted = hits.select(explode(col("hits")).as("src"), col("doc_id"))
      .as[(Long, Long)].collect()
    hits.unpersist()
    val dups = emitted.groupBy(identity).map { case ((src, d), xs) =>
      (d, src, xs.length) }
      .filter { case (d, src, c) =>
        c.toDouble / math.min(nl(d), nl(src)) >= 0.6 }
      .groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).min) }
    assert(dups == (20L until 26L).map(i => (i, i - 20)).toMap, s"$dups")
  }

  // ---- m114: overlapped frames halve trim-alignment granularity ----

  test("hop=32 spectral landmarks catch 96ms trims the default hop misses") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val wav = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticWavTones(id, 8000, ms = 640)
      else Multimodal.syntheticWavTones(id - 20, 44100, ms = 512,
        offsetMs = 96))
    val media = spark.range(0, 6).union(spark.range(20, 26))
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    // 96 ms is not a 64 ms multiple: the default grid misaligns every
    // frame, so the m110 machinery sees nothing
    assert(pairs(Multimodal.pairs(AudioSpectralLandmark())(media)).isEmpty,
      "64 ms hop must miss a 96 ms trim")
    // overlapped frames (32 ms hop) re-align at 96 = 3 x 32
    assert(pairs(Multimodal.pairs(AudioSpectralLandmark(hopMs = 32))(media))
      == (0L until 6L).map(i => (i, i + 20)).toSet)
    // and the default-hop code path is unchanged by the new parameter:
    // hop=64 explicitly equals the default
    val w0 = Multimodal.decodeWav(Multimodal.syntheticWavTones(1L, 8000)).get
    assert(Multimodal.spectralFrameCodes(w0).toSeq ==
      Multimodal.spectralFrameCodes(w0, 64).toSeq)
  }

  // ---- m107 MKV lacing: laced == unlaced + malformed-lacing fuzz ----

  test("MKV lacing: laced frames concatenate to the unlaced payload; malformed lacing never throws") {
    // all three lacing codings x several stream shapes: the extracted
    // WAV must be byte-identical to the unlaced mux's
    for (id <- 0L until 6L; lac <- 1 to 3) {
      def mk(l: Int) = Multimodal.syntheticMkv(id, (4 + id % 3).toInt,
        audioId = id % 5, audioSamples = (320 + (id % 5) * 64).toInt,
        lacing = l)
      val wp = Multimodal.mkvAudioWav(mk(0))
      val wl = Multimodal.mkvAudioWav(mk(lac))
      assert(wp.isDefined && wl.isDefined, s"id=$id lac=$lac: no audio")
      assert(java.util.Arrays.equals(wp.get, wl.get),
        s"id=$id lac=$lac: laced extraction differs from unlaced")
    }
    // malformed lacing: single-byte mutations and truncations of VALID
    // laced fixtures (corrupt size runs, bad deltas, non-dividing
    // fixed splits) must degrade to skipped blocks, never throw
    val rnd = new scala.util.Random(20260814L)
    val fixtures = (1 to 3).map(l => Multimodal.syntheticMkv(3L, 4,
      audioId = 1L, audioSamples = 256, lacing = l))
    for (f <- fixtures; _ <- 0 until 150) {
      val m = f.clone()
      val k = 1 + rnd.nextInt(4)
      for (_ <- 0 until k)
        m(rnd.nextInt(m.length)) = (rnd.nextInt(256) - 128).toByte
      Multimodal.mkvBlocks(m); Multimodal.mkvAudioWav(m)
      val cut = java.util.Arrays.copyOfRange(m, 0, rnd.nextInt(m.length))
      Multimodal.mkvBlocks(cut); Multimodal.mkvAudioWav(cut)
    }
  }

  // ---- m108 ASS/SSA styled captions reach the text tier ------------

  test("assStrip + S_TEXT/ASS extraction recover the plain caption text") {
    // strip semantics: override blocks drop, \N/\n break, \h spaces,
    // unclosed block runs to end
    assert(Multimodal.assStrip("{\\an8}hello {\\i1}world{\\i0}")
      == "hello world")
    assert(Multimodal.assStrip("a\\Nb\\nc\\hd") == "a\nb\nc d")
    assert(Multimodal.assStrip("keep {unclosed tail") == "keep ")
    // end to end: a styled ASS mux extracts to the same text as the
    // plain UTF8 mux — so a styled-caption leak is visible to the
    // exact decontamination replay
    val plainLines = Seq("the quick brown fox jumps", "over the lazy dog")
    val styled = plainLines.map { l =>
      val k = l.length / 2
      "{\\pos(10,20)}" + l.substring(0, k) + "\\N{\\b1}" + l.substring(k) + "{\\b0}"
    }
    val plainMux = Multimodal.syntheticMkv(7L, 3, cueLines = plainLines)
    val styledMux = Multimodal.syntheticMkv(7L, 3, cueLines = styled,
      subsAss = true)
    val pt = Multimodal.mkvSubtitleText(plainMux)
    val st = Multimodal.mkvSubtitleText(styledMux)
    assert(pt.isDefined && st.isDefined)
    // \N strips to \n; reassembly removes all \n exactly as the cue
    // joins do, so the normalized texts are identical
    assert(st.get.replace("\n", "") == pt.get.replace("\n", ""),
      s"styled ${st.get} vs plain ${pt.get}")
    // and WITHOUT stripping, the styled payload is nothing like the
    // caption (metadata fields + tags) — the pre-round-10 blind spot
    assert(st.get != pt.get || styled == plainLines,
      "styled text must differ before normalization")
  }

  // ---- m111: video dihedral-8 (rotated video re-uploads) ------------

  test("video dihedral-8 catches rotated and rot+mirror re-uploads; narrower tiers miss") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // ids 20-25: rotated re-uploads (q = 1..3); ids 30-32: the
    // rotate(mirror(.)) compound — every frame's hash changes in ways
    // neither the plain nor the mirror-only tier can probe
    val avi = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticAvi(id, (4 + id % 3).toInt)
      else if (id < 30) Multimodal.syntheticAvi(id - 20,
        (4 + (id - 20) % 3).toInt, rotQ = (id % 3 + 1).toInt)
      else Multimodal.syntheticAvi(id - 30,
        (4 + (id - 30) % 3).toInt, rotQ = (id % 3 + 1).toInt,
        mirrorX = true))
    val media = spark.range(0, 6).union(spark.range(20, 26))
      .union(spark.range(30, 33))
      .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    val planted = (0L until 6L).map(i => (i, i + 20)).toSet ++
      (0L until 3L).map(i => (i, i + 30)).toSet ++
      // rotated and compound re-uploads of the SAME source pair with
      // each other too (both are dihedral transforms of one stream)
      (0L until 3L).map(i => (i + 20, i + 30)).toSet
    val sourcePairs = (0L until 6L).map(i => (i, i + 20)).toSet ++
      (0L until 3L).map(i => (i, i + 30)).toSet
    assert(pairs(Multimodal.pairs(VideoFrames())(media)).isEmpty,
      "plain aligned tier must miss every rotated re-upload")
    // the mirror-only tier must miss every (source, re-upload) pair;
    // it MAY relate two re-uploads to each other when they happen to
    // be a pure mirror apart (rot_a(s) vs rot_{-a}(mirror(s)))
    assert((pairs(Multimodal.pairs(VideoFramesFlip())(media))
        & sourcePairs).isEmpty,
      "mirror-only tier must miss rotations and rotate-mirror compounds")
    assert(pairs(Multimodal.pairs(VideoFramesDihedral())(media)) == planted)
  }

  // ---- m109/st81: dihedral-8 closes the rot x flip composition gap --

  test("dihedral-8 catches compound reposts that rot-only and flip-only each miss") {
    import spark.implicits._
    // reposts: mirror THEN quarter-turn (1 = transpose-type, 2 =
    // vertical flip, 3 = anti-transpose) — none is a pure rotation or
    // a pure mirror of its source
    val png = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticPng(id)
      else Multimodal.syntheticPngRotFlip(id - 20, (id % 3 + 1).toInt))
    val media = spark.range(0, 6).union(spark.range(20, 26))
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    val planted = (0L until 6L).map(i => (i, i + 20)).toSet
    assert(pairs(Multimodal.pairs(PHashDihedral)(media)) == planted)
    // the single-trick variants provably miss every compound repost
    assert(pairs(Multimodal.pairs(PHashRot)(media)).isEmpty,
      "rotation-only probes must miss mirror+rotate compounds")
    assert(pairs(Multimodal.pairs(PHashFlip)(media)).isEmpty,
      "mirror-only probes must miss mirror+rotate compounds")
    // streaming form: compound reposts dedup onto their sources with
    // the shipped cap on
    val v = StreamingNearDup.pHashVerdictsDihedral(
        media, "doc_id", "payload", maxBucket = 64)
      .collect().groupBy(_.doc_id)
      .map { case (id, xs) =>
        (id, xs.flatMap(_.dup_src) match {
          case Array() => None
          case ys => Some(ys.min)
        })
      }
    (0L until 6L).foreach(id => assert(v(id).isEmpty, s"base $id"))
    (20L until 26L).foreach { id =>
      assert(v(id).contains(id - 20L), s"compound repost $id: ${v(id)}")
    }
  }

  test("pHashVerdictsRotTolerant: unique (doc, orient, chunk) keys, cap keeps decisions") {
    val png = udf((id: Long) =>
      if (id < 6) Multimodal.syntheticPng(id)
      else if (id < 200) Multimodal.syntheticPngRot(id - 194, ((id % 3) + 1).toInt)
      else Multimodal.syntheticPng(999))
    val media = spark.range(0, 6).union(spark.range(194, 230))
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    def run(maxBucket: Int): Seq[ChunkVerdictO] =
      StreamingNearDup.pHashVerdictsRotTolerant(media, "doc_id", "payload",
        maxBucket = maxBucket).collect().toSeq
    val capped = run(maxBucket = 4)
    val keys = capped.map(v => (v.doc_id, v.orient, v.chunk))
    assert(keys.distinct.size == keys.size, "duplicate (doc,orient,chunk) keys")
    def decide(vs: Seq[ChunkVerdictO]): Map[Long, Option[Long]] =
      vs.groupBy(_.doc_id).map { case (id, xs) =>
        (id, xs.flatMap(_.dup_src) match {
          case Seq() => None
          case ys => Some(ys.min)
        })
      }
    val cd = decide(capped)
    val ud = decide(run(maxBucket = 0))
    assert(cd == ud, s"cap changed decisions:\n$cd\nvs\n$ud")
    (194L until 200L).foreach { id =>
      assert(cd(id).contains(id - 194L), s"rotated repost $id: ${cd(id)}")
    }
    (201L until 230L).foreach { id =>
      assert(cd(id).contains(200L), s"hot copy $id: ${cd(id)}")
    }
  }
}
