package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{AudioCode, AudioLandmark, PHash, VideoFrames,
  VideoShift}

/** Round-8 additions: decode-once materialization contract for the
  * image/audio near-dup operators, the m79 frequent-code skew cap. */
class Round8Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Run `body` and return the number of payloads that entered a real
    * decode path meanwhile (this application's decode counter). */
  private def countingDecodes(body: => Unit): Long = {
    val acc = Multimodal.decodesProbed(spark)
    val before = acc.value
    body
    acc.value - before
  }

  // ---- decode-once contract (r7 verdict #1: the persist lifecycle
  // bugs made every consumer re-decode every payload) -----------------

  test("pHashPairs decodes each image exactly once per run") {
    import spark.implicits._
    val png = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticPng(id)
      else Multimodal.syntheticPngVariant(id - 20))
    val media = spark.range(0, 40)
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    var pairs: Set[(Long, Long)] = Set.empty
    val decodes = countingDecodes {
      pairs = Multimodal.pairs(PHash)(media, maxDist = 3)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    }
    assert(decodes == 40L,
      s"expected exactly one decode per payload (40), got $decodes")
    val planted = (0L until 20L).map(i => (i, i + 20)).toSet
    assert(pairs.subsetOf(planted) && pairs.size >= 15)
  }

  test("audioFingerprintPairs decodes each WAV exactly once per run") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val wav = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticWavTex(id, (160 + (id % 13) * 16).toInt)
      else Multimodal.syntheticWavTex(id - 20,
        (160 + ((id - 20) % 13) * 16).toInt, num = 9, den = 10))
    val media = spark.range(0, 40)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    var pairs: Set[(Long, Long)] = Set.empty
    val decodes = countingDecodes {
      pairs = Multimodal.pairs(AudioCode)(media)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    }
    assert(decodes == 40L,
      s"expected exactly one decode per payload (40), got $decodes")
    val planted = (0L until 20L).map(i => (i, i + 20)).toSet
    assert(pairs.intersect(planted).size >= 15 && (pairs -- planted).isEmpty)
  }

  // ---- m79 frequent-code skew cap (r7 verdict #2) --------------------

  test("audioFingerprintPairs maxDf bounds silence blowup, keeps planted pairs") {
    import Round8Fixtures.halfSilentWav
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // 10 textured tracks + 10 re-leveled copies (planted near-dups) +
    // 50 unrelated half-silent tracks sharing constant leading frames
    val wav = udf((id: Long) =>
      if (id < 10) Multimodal.syntheticWavTex(id, (160 + (id % 13) * 16).toInt)
      else if (id < 20) Multimodal.syntheticWavTex(id - 10,
        (160 + ((id - 10) % 13) * 16).toInt, num = 9, den = 10)
      else halfSilentWav(id, 1024))
    val media = spark.range(0, 70)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))

    // candidate volume the pair expansion would materialize: sum of
    // C(df, 2) over (frame_idx, code) buckets, with and without the cap
    val dfs = Multimodal.audioFingerprint(media).toDF()
      .groupBy($"frame_idx", $"code").agg(count(lit(1)).as("df"))
      .select($"df".cast("long")).as[Long].collect()
    def pairVolume(dfLimit: Long): Long =
      dfs.filter(m => dfLimit <= 0 || m <= dfLimit).map(m => m * (m - 1) / 2).sum
    val uncapped = pairVolume(0)
    val capped = pairVolume(20)
    assert(uncapped >= 5000,
      s"fixture should exhibit a silence blowup, only $uncapped candidate pairs")
    assert(capped * 10 <= uncapped,
      s"cap should collapse the blowup: capped=$capped uncapped=$uncapped")

    val planted = (0L until 10L).map(i => (i, i + 10)).toSet
    val cappedPairs = Multimodal.pairs(AudioCode)(media, maxDf = 20)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val uncappedPairs = Multimodal.pairs(AudioCode)(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // silent-shared codes sit below minMatch either way, so the cap
    // changes candidate volume, not the reported pair set
    assert(cappedPairs == uncappedPairs,
      s"capped=$cappedPairs uncapped=$uncappedPairs")
    assert(cappedPairs.intersect(planted).size >= 8,
      s"planted re-levels lost under cap: $cappedPairs")
    assert((cappedPairs -- planted).isEmpty, s"false pairs: ${cappedPairs -- planted}")
  }

  // ---- m80 landmark fingerprint: time-shift tolerance ----------------

  test("audioLandmarkPairs finds leading-silence-trimmed copies aligned matching misses") {
    import Round8Fixtures.silencePaddedWav
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // originals: 256 samples (4 hops) of leading silence then texture;
    // copies: the silence trimmed away — every frame index shifts by 4
    val wav = udf((id: Long) =>
      if (id < 10) silencePaddedWav(id, 256, 768)
      else Multimodal.syntheticWavTexTrim(id - 10, 512, skip = 256))
    val media = spark.range(0, 20)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val planted = (0L until 10L).map(i => (i, i + 10)).toSet
    val aligned = Multimodal.pairs(AudioCode)(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(aligned.intersect(planted).isEmpty,
      s"positional alignment should NOT see the shifted copies: $aligned")
    val landmark = Multimodal.pairs(AudioLandmark())(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(landmark.intersect(planted).size == 10,
      s"landmarks must find every trimmed copy: $landmark")
    assert((landmark -- planted).isEmpty, s"false pairs: ${landmark -- planted}")
  }

  test("audioLandmarkPairs maxDf caps the silence landmark, pair set unchanged") {
    import Round8Fixtures.{halfSilentWav, silencePaddedWav}
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // planted trims + 50 unrelated half-silent tracks: silence frames
    // code to 0, so the (0,0) landmark bucket holds all 50 — C(50,2)
    // candidate pairs from ONE bucket without the cap
    val wav = udf((id: Long) =>
      if (id < 10) silencePaddedWav(id, 256, 768)
      else if (id < 20) Multimodal.syntheticWavTexTrim(id - 10, 512, skip = 256)
      else halfSilentWav(id, 1024))
    val media = spark.range(0, 70)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val planted = (0L until 10L).map(i => (i, i + 10)).toSet
    val capped = Multimodal.pairs(AudioLandmark())(media, maxDf = 20)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val uncapped = Multimodal.pairs(AudioLandmark())(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(capped == uncapped, s"capped=$capped uncapped=$uncapped")
    assert(capped.intersect(planted).size == 10, s"planted trims lost: $capped")
    assert((capped -- planted).isEmpty, s"false pairs: ${capped -- planted}")
  }

  test("audioLandmarkPairs decodes each WAV exactly once per run") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val wav = udf((id: Long) =>
      if (id < 10) Multimodal.syntheticWavTex(id, (320 + (id % 8) * 64).toInt)
      else Multimodal.syntheticWavTexTrim(id - 10,
        (320 + ((id - 10) % 8) * 64 - 128).toInt, skip = 128))
    val media = spark.range(0, 20)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    var pairs: Set[(Long, Long)] = Set.empty
    val decodes = countingDecodes {
      pairs = Multimodal.pairs(AudioLandmark())(media)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    }
    assert(decodes == 20L,
      s"expected exactly one decode per payload (20), got $decodes")
    assert(pairs == (0L until 10L).map(i => (i, i + 10)).toSet)
  }

  test("audioLandmarkVerdicts maxBucket keeps planted trim decisions") {
    import Round8Fixtures.halfSilentWav
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // planted trims + 30 half-silent tracks whose shared (0,0) silence
    // landmark would otherwise bucket the whole corpus together
    val wav = udf((id: Long) =>
      if (id < 8) Multimodal.syntheticWavTex(id, (320 + (id % 8) * 64).toInt)
      else if (id < 16) Multimodal.syntheticWavTexTrim(id - 8,
        (320 + ((id - 8) % 8) * 64 - 128).toInt, skip = 128)
      else halfSilentWav(id, 1024))
    val media = spark.range(0, 46)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val planted = (8L until 16L).map(i => (i, i - 8)).toMap
    def decisions(maxBucket: Int): (Map[Long, Long], Long) = {
      val hits = StreamingNearDup.audioLandmarkVerdicts(
        media, "doc_id", "payload", maxBucket = maxBucket).toDF().cache()
      val nl = hits.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
        .as[(Long, Long)].collect().toMap
      val emitted = hits.select(explode(col("hits")).as("src"),
        col("doc_id")).as[(Long, Long)].collect()
      hits.unpersist()
      val dups = emitted.groupBy(identity).map { case ((src, d), xs) =>
        (d, src, xs.length) }
        .filter { case (d, src, c) =>
          c.toDouble / math.min(nl(d), nl(src)) >= 0.6 }
        .groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).min) }
      (dups, emitted.length.toLong)
    }
    val (capped, cappedEmits) = decisions(maxBucket = 4)
    val (uncapped, uncappedEmits) = decisions(maxBucket = 0)
    assert(uncapped == planted, s"uncapped: $uncapped")
    assert(capped == planted, s"capped: $capped")
    assert(cappedEmits < uncappedEmits,
      s"cap must bound emission: $cappedEmits vs $uncappedEmits")
  }

  // ---- st73 streaming audio dedup: bucket-cap skew guard -------------

  test("audioVerdicts maxBucket bounds hot-bucket emission, decisions unchanged") {
    import Round8Fixtures.halfSilentWav
    import spark.implicits._
    // planted: 6 textured tracks + their re-leveled copies; 30 unrelated
    // half-silent tracks whose silent frames all share (frame_idx, 0)
    // buckets — the hot key the cap exists for. Batch mode: state folds
    // each bucket's rows in one id-ordered pass, so decisions match the
    // id-monotonic streaming delivery by the operator's own contract.
    val wav = udf((id: Long) =>
      if (id < 6) Multimodal.syntheticWavTex(id, (160 + (id % 13) * 16).toInt)
      else if (id < 12) Multimodal.syntheticWavTex(id - 6,
        (160 + ((id - 6) % 13) * 16).toInt, num = 9, den = 10)
      else halfSilentWav(id, 1024))
    val media = spark.range(0, 42)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    def decisions(maxBucket: Int): (Map[Long, Long], Long) = {
      val hits = StreamingNearDup
        .audioVerdicts(media, "doc_id", "payload", maxBucket = maxBucket)
        .toDF().cache()
      val nf = hits.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
        .as[(Long, Long)].collect().toMap
      val emitted = hits.select(explode(col("hits")).as("src"),
        col("doc_id")).as[(Long, Long)].collect()
      hits.unpersist()
      val dups = emitted.groupBy(identity).map { case ((src, d), xs) =>
        (d, src, xs.length) }
        .filter { case (d, src, c) =>
          c.toDouble / math.min(nf(d), nf(src)) >= 0.8 }
        .groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).min) }
      (dups, emitted.length.toLong)
    }
    val (capped, cappedEmits) = decisions(maxBucket = 4)
    val (uncapped, uncappedEmits) = decisions(maxBucket = 0)
    val planted = (6L until 12L).map(i => (i, i - 6)).toMap
    assert(uncapped == planted, s"uncapped: $uncapped")
    assert(capped == planted, s"capped: $capped")
    // 30 half-silent tracks share every silent-frame bucket: uncapped
    // emission is quadratic in members, the cap holds it near-linear
    assert(cappedEmits < uncappedEmits / 4,
      s"cap did not bound emission: $cappedEmits vs $uncappedEmits")
  }

  // ---- m81/m82 video container tier ----------------------------------

  test("aviFrames round-trips DIB frames and parses MJPEG within tolerance") {
    // DIB: bit-exact through the BMP wrap — frame hashes equal the
    // same pixels hashed any other lossless way, so just assert the
    // parse is complete and deterministic
    val dib = Multimodal.aviFrames(Multimodal.syntheticAvi(7L, 5)).get
    assert(dib.length == 5)
    val dibHashes = dib.map(f => Multimodal.pHash64(f).get)
    assert(dibHashes.distinct.length == 5)
    // MJPEG: each '00dc' chunk is a standalone JPEG; lossy, so assert
    // perceptual proximity to the lossless frame, not equality
    val jpg = Multimodal.aviFrames(Multimodal.syntheticAvi(7L, 5, mjpeg = true)).get
    assert(jpg.length == 5)
    jpg.zip(dibHashes).foreach { case (frame, ref) =>
      val ph = Multimodal.pHash64(frame).get
      val d = java.lang.Long.bitCount(ph ^ ref)
      assert(d <= 16, s"JPEG frame drifted $d bits from the lossless hash")
    }
  }

  test("aviFrames is ingest-safe on malformed payloads") {
    assert(Multimodal.aviFrames("not a container".getBytes).isEmpty)
    assert(Multimodal.aviFrames(Array.empty[Byte]).isEmpty)
    val good = Multimodal.syntheticAvi(3L, 4)
    // truncation mid-chunk-table: frames before the damage still parse,
    // nothing throws
    val cut = Multimodal.aviFrames(good.take(good.length / 2))
    assert(cut.isDefined)
    assert(cut.get.length < 4)
  }

  test("videoNearDupPairs decodes each sampled frame exactly once per run") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // 10 base + 10 brightness-bumped copies, nFrames = 4 + id % 3:
    // sampled (every=2) frames per video = ceil(nFrames / 2)
    val avi = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticAvi(id, (4 + id % 3).toInt)
      else Multimodal.syntheticAvi(id - 20, (4 + (id - 20) % 3).toInt,
        delta = 12, global0 = true))
    val media = spark.range(0, 10).union(spark.range(20, 30))
      .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
    val expected = (0 until 10).map(id => (4 + id % 3 + 1) / 2).sum * 2L
    var pairs: Set[(Long, Long)] = Set.empty
    val decodes = countingDecodes {
      pairs = Multimodal.pairs(VideoFrames())(media)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    }
    assert(decodes == expected,
      s"expected one decode per SAMPLED frame ($expected), got $decodes " +
        "- unsampled frames must never decode, sampled ones only once")
    assert(pairs == (0L until 10L).map(i => (i, i + 20)).toSet)
  }

  test("videoLandmarkPairs finds frame-trimmed copies aligned matching misses") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // copies cut the first 2 frames (one `every` stride): every sample
    // position shifts by 1, interior landmarks stay bit-identical
    val avi = udf((id: Long) =>
      if (id < 10) Multimodal.syntheticAvi(id, (6 + id % 3).toInt)
      else Multimodal.syntheticAvi(id - 10, (6 + (id - 10) % 3).toInt - 2,
        frameOffset = 2))
    val media = spark.range(0, 20)
      .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
    val planted = (0L until 10L).map(i => (i, i + 10)).toSet
    val aligned = Multimodal.pairs(VideoFrames())(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(aligned.intersect(planted).isEmpty,
      s"aligned frame_idx matching should NOT see the shifted copies: $aligned")
    val landmark = Multimodal.pairs(VideoShift())(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(landmark == planted, s"landmarks must find every trim: $landmark")
  }

  test("videoLandmarkPairs maxDf drops the shared-intro landmark, pairs unchanged") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // 24 unrelated videos whose first FOUR frames are the shared intro:
    // sampled positions 0 and 2 both render intro pixels, so the
    // (intro, intro) landmark buckets the whole group
    val avi = udf((id: Long) =>
      if (id < 6) Multimodal.syntheticAvi(id, (6 + id % 3).toInt)
      else if (id < 12) Multimodal.syntheticAvi(id - 6, (6 + (id - 6) % 3).toInt - 2,
        frameOffset = 2)
      else Multimodal.syntheticAvi(id, 8, intro = 4))
    val media = spark.range(0, 36)
      .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
    val planted = (0L until 6L).map(i => (i, i + 6)).toSet
    val capped = Multimodal.pairs(VideoShift())(media, maxDf = 8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val uncapped = Multimodal.pairs(VideoShift())(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped == planted, s"uncapped: $uncapped")
    assert(capped == planted, s"capped: $capped")
  }

  test("videoNearDupPairs maxDf drops shared-intro buckets, pair set unchanged") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // planted: 6 base videos + 6 brightness-bumped re-uploads; 30
    // unrelated videos all opening on the SAME intro frame — every
    // sampled frame-0 bucket holds all 30, the candidate flood the
    // cap exists for (1 shared frame can never reach minMatch 0.8)
    val avi = udf((id: Long) =>
      if (id < 6) Multimodal.syntheticAvi(id, (4 + id % 3).toInt)
      else if (id < 12) Multimodal.syntheticAvi(id - 6, (4 + (id - 6) % 3).toInt,
        delta = 12, global0 = true)
      else Multimodal.syntheticAvi(id, 5, intro = 1))
    val media = spark.range(0, 42)
      .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
    val planted = (0L until 6L).map(i => (i, i + 6)).toSet
    val capped = Multimodal.pairs(VideoFrames())(media, maxDf = 8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val uncapped = Multimodal.pairs(VideoFrames())(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped == planted, s"uncapped: $uncapped")
    assert(capped == planted, s"capped: $capped")
  }

  // ---- plan shapes: the new pair operators must never go all-pairs ---

  test("m80/m82 pair plans are equi-joins — no cartesian, no broadcast NL join") {
    implicit val sp: SparkSession = spark
    val wav = udf((id: Long) => Multimodal.syntheticWavTex(id, 320))
    val audio = spark.range(0, 8)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val avi = udf((id: Long) => Multimodal.syntheticAvi(id, 4))
    val video = spark.range(0, 8)
      .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
    Seq(
      "audioLandmarkPairs" -> Multimodal.pairs(AudioLandmark())(audio),
      "videoNearDupPairs" -> Multimodal.pairs(VideoFrames())(video)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains a nested-loop join")
    }
  }

  // ---- incremental index == batch pairs, cross-modality --------------

  test("dedupAgainstPHashIndex decisions match pHashPairs on the union") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val corpusPng = udf((id: Long) => Multimodal.syntheticPng(id))
    val probePng = udf((id: Long) => Multimodal.syntheticPngVariant(id - 1000000L))
    val corpus = spark.range(0, 20)
      .select(col("id").as("doc_id"), corpusPng(col("id")).as("payload"))
    val probes = spark.range(1000000L, 1000020L)
      .select(col("id").as("doc_id"), probePng(col("id")).as("payload"))
    val viaIndex = Multimodal.screen(PHash)(probes,
      Multimodal.pHashChunkIndex(corpus))
      .filter(!col("kept"))
      .select($"dup_src", $"doc_id").as[(Long, Long)].collect().toSet
    // the batch operator on the union, restricted to cross pairs with
    // the same keep-lowest resolution
    val crossPairs = Multimodal.pairs(PHash)(corpus.unionAll(probes))
      .filter($"doc_a" < 1000000L && $"doc_b" >= 1000000L)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val viaPairs = crossPairs.groupBy(_._2)
      .map { case (b, xs) => (xs.map(_._1).min, b) }.toSet
    assert(viaIndex == viaPairs, s"index: $viaIndex vs pairs: $viaPairs")
  }

  test("dedupAgainstAudioIndex decisions match audioFingerprintPairs on the union") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val wav = udf((id: Long) =>
      if (id < 1000000L) Multimodal.syntheticWavTex(id, (160 + (id % 13) * 16).toInt)
      else Multimodal.syntheticWavTex(id - 1000000L,
        (160 + ((id - 1000000L) % 13) * 16).toInt, num = 9, den = 10))
    val corpus = spark.range(0, 20)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val probes = spark.range(1000000L, 1000020L)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val viaIndex = Multimodal.screen(AudioCode)(probes,
      Multimodal.index(AudioCode)(corpus))
      .filter(!col("kept"))
      .select($"dup_src", $"doc_id").as[(Long, Long)].collect().toSet
    val crossPairs = Multimodal.pairs(AudioCode)(corpus.unionAll(probes))
      .filter($"doc_a" < 1000000L && $"doc_b" >= 1000000L)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val viaPairs = crossPairs.groupBy(_._2)
      .map { case (b, xs) => (xs.map(_._1).min, b) }.toSet
    assert(viaIndex == viaPairs, s"index: $viaIndex vs pairs: $viaPairs")
  }

  // ---- events ts storage adaptivity (the round-8 testdata regen broke
  // 24 queries: ts flipped TIMESTAMP(NANOS) -> TIMESTAMP(MICROS)) ------

  test("Util.t normalizes events.ts from every storage form it has seen") {
    import graft.queries.Util
    val dir = java.nio.file.Files.createTempDirectory("graft-events-forms")
    try {
      val base = 1_700_000_000_000_000L // micros; nanos = *1000
      // raw long nanos (what nanosAsLong yields for TIMESTAMP(NANOS))
      spark.range(0, 3)
        .selectExpr(s"id AS event_id", s"(id * 1000000 + $base) * 1000 AS ts")
        .write.parquet(s"$dir/nanos/events.parquet")
      // TIMESTAMP_NTZ micros (the round-8 regenerated form)
      spark.range(0, 3)
        .selectExpr("id AS event_id",
          s"CAST(timestamp_micros(id * 1000000 + $base) AS TIMESTAMP_NTZ) AS ts")
        .write.parquet(s"$dir/micros/events.parquet")
      // plain TimestampType — already normalized, must pass through
      spark.range(0, 3)
        .selectExpr("id AS event_id", s"timestamp_micros(id * 1000000 + $base) AS ts")
        .write.parquet(s"$dir/ltz/events.parquet")
      val results = Seq("nanos", "micros", "ltz").map { form =>
        val df = Util.t(spark, s"$dir/$form", "events")
        assert(df.schema("ts").dataType ==
          org.apache.spark.sql.types.TimestampType, s"$form form")
        df.selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).sorted.toSeq
      }
      val want = (0 until 3).map(i => i * 1000000L + base)
      results.zip(Seq("nanos", "micros", "ltz")).foreach { case (got, form) =>
        assert(got == want, s"$form: $got")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  // ---- charEntropy empty-doc contract (r7 advice) --------------------

  test("charEntropy drops null/empty docs (matches the oracle's UNNEST)") {
    import spark.implicits._
    val docs = Seq((1L, "aab"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(got == Set(1L), s"empty/null docs must be absent, got $got")
  }

  // ---- batched BPE induction (r7 missing #1: 16-merge cap) -----------

  test("bpeMergeRulesBatched == sequential induction when top pairs are disjoint") {
    import spark.implicits._
    // per-doc unique separators keep cross-pair adjacencies at count 1,
    // so the top-3 pairs are (a,b)=5 > (c,d)=4 > (e,f)=3, pairwise
    // token-disjoint — the batch is exact and ONE round learns all 3
    val docs = Seq(
      "a b x1 a b x2 a b x3 a b x4 a b x5",
      "c d y1 c d y2 c d y3 c d y4",
      "e f z1 e f z2 e f z3").toDF("text")
    val seqRules = TextAnalysis.bpeMergeRules(docs, "text", merges = 3)
      .select($"iter", $"tok_a", $"tok_b", $"pair_count")
      .as[(Int, String, String, Long)].collect().toSeq
    val batched = TextAnalysis.bpeMergeRulesBatched(docs, "text", merges = 3)
      .select($"iter", $"round", $"tok_a", $"tok_b", $"pair_count")
      .as[(Int, Int, String, String, Long)].collect().toSeq
    assert(batched.map(r => (r._1, r._3, r._4, r._5)) == seqRules)
    assert(batched.forall(_._2 == 1), s"expected one round, got $batched")
  }

  test("bpeMergeRulesBatched defers interacting pairs to the next round") {
    import spark.implicits._
    // (x,y), (y,z), (z,w) all count 3; priority order is (x,y) first,
    // (y,z) must defer (shares y), (z,w) joins the batch; round 2 then
    // sees the merged corpus where the natural next rule is (x_y, z_w)
    val docs = Seq("x y z w x y z w x y z w").toDF("text")
    val got = TextAnalysis.bpeMergeRulesBatched(docs, "text", merges = 3)
      .select($"iter", $"round", $"tok_a", $"tok_b", $"pair_count")
      .as[(Int, Int, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1, 1, "x", "y", 3L),
      (2, 1, "z", "w", 3L),
      (3, 2, "x_y", "z_w", 3L)), got.toString)
  }

  test("bpeMergeRulesBatched learns 64 rules in few rounds and feeds bpeEncode") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rules = TextAnalysis.bpeMergeRulesBatched(docs, "text", merges = 64)
      .select($"iter", $"round", $"tok_a", $"tok_b", $"pair_count")
      .as[(Int, Int, String, String, Long)].collect().toSeq
    assert(rules.size == 64)
    assert(rules.map(_._1) == (1 to 64), "iter must be a contiguous priority order")
    // a merged pair's adjacency count drops to zero, so no rule repeats
    assert(rules.map(r => (r._3, r._4)).distinct.size == 64)
    val rounds = rules.map(_._2).max
    assert(rounds <= 20, s"cost must be rounds, not merges: $rounds rounds")
    // the learned rules drive the encode half: real subword counts drop
    val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text",
      rules.sortBy(_._1).map(r => (r._3, r._4)))
    val (sumEnc, sumWs) = enc
      .join(docs.select($"doc_id", size(split($"text", " ")).cast("long").as("n_ws")), Seq("doc_id"))
      .agg(sum($"n_tokens"), sum($"n_ws")).as[(Long, Long)].head()
    assert(sumEnc < sumWs, s"64 merges must shrink token counts: $sumEnc vs $sumWs")
  }

  test("bpeMergeRulesBatched scales to 512 merges with round count sub-linear in merges") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rules = TextAnalysis.bpeMergeRulesBatched(docs, "text", merges = 512)
      .select($"iter", $"round", $"tok_a", $"tok_b")
      .as[(Int, Int, String, String)].collect().toSeq
    assert(rules.size == 512)
    assert(rules.map(_._1) == (1 to 512), "contiguous priority order")
    assert(rules.map(r => (r._3, r._4)).distinct.size == 512)
    val rounds = rules.map(_._2).max
    // the production-vocab claim: corpus passes grow with ROUNDS, and
    // rounds stay far below merges (each round batches the
    // non-interacting prefix of the pair ranking)
    assert(rounds <= 64, s"512 merges must not take 512 passes: $rounds rounds")
    // every round after the first must have been forced by an actual
    // interaction, not a premature batch cut: rounds strictly ordered
    assert(rules.map(_._2).distinct.sorted == (1 to rounds))
  }
}

/** Top-level fixture holder so test UDF closures don't capture the
  * (non-serializable) suite instance. */
object Round8Fixtures extends Serializable {
  /** Half-silent WAV: `n/2` zero samples then per-id pseudo-random
    * texture — the real-audio shape where unrelated tracks share the
    * all-zero autocorrelation code at the same leading frame indexes. */
  def halfSilentWav(id: Long, n: Int): Array[Byte] =
    Multimodal.wavPcm16(Array.tabulate(n) { i =>
      if (i < n / 2) 0
      else (((id * 40503L + 12289L) * (i + 7L) * (i + 13L)) % 65536L
        - 32768L).toInt
    })

  /** `nSilence` zero samples then the [[Multimodal.syntheticWavTex]]
    * stream continued at ABSOLUTE index — so
    * `syntheticWavTexTrim(id, nTotal - nSilence, skip = nSilence)` is
    * a bit-exact leading trim of this payload. */
  def silencePaddedWav(id: Long, nSilence: Int, nTotal: Int): Array[Byte] =
    Multimodal.wavPcm16(Array.tabulate(nTotal) { n =>
      if (n < nSilence) 0
      else (((id * 40503L + 12289L) * (n + 7L) * (n + 13L)) % 65536L
        - 32768L).toInt
    })
}
