package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{AudioLandmark, PHash, PHashFlip, PHashRot,
  VideoFrames, VideoFramesFlip, VideoShift}

/** Round-9 additions: the three skew/state guards named by the round-8
  * verdict — streaming bucket state truncation at maxBucket (st73-75),
  * the m78/m85 frequent-pHash cap, and the m82 cap placed BEFORE the
  * posting-list aggregation. */
class Round9Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---- st73-75 bucket state truncation (r8 verdict #3) ---------------

  /** The PRE-fix fold: emissions capped, registration unbounded — the
    * state-growth defect the round-8 verdict named. foldBucket must
    * emit identically while keeping state bounded. */
  private def unboundedReference(seen0: List[Long], ids: Seq[Long],
      maxBucket: Int): (List[Long], Seq[(Long, List[Long])]) = {
    var seen = seen0
    val out = ids.map { id =>
      val hits = if (maxBucket > 0 && seen.length >= maxBucket) Nil else seen
      seen = id :: seen
      (id, hits)
    }
    (seen, out)
  }

  test("foldBucket emits like the unbounded fold but truncates state at maxBucket") {
    val batches = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L, 7L), Seq(8L), Seq(9L, 10L))
    for (maxBucket <- Seq(0, 1, 4, 6, 100)) {
      var sFixed: List[Long] = Nil
      var sRef: List[Long] = Nil
      batches.foreach { ids =>
        val (ns, out) = StreamingNearDup.foldBucket(sFixed, ids, maxBucket)(
          (id, hits) => (id, hits))
        val (nr, ref) = unboundedReference(sRef, ids, maxBucket)
        assert(out == ref,
          s"maxBucket=$maxBucket: emissions diverge: $out vs $ref")
        sFixed = ns; sRef = nr
        if (maxBucket > 0)
          assert(sFixed.length <= maxBucket,
            s"state grew past cap: ${sFixed.length} > $maxBucket")
      }
      if (maxBucket == 0) assert(sFixed.length == 10) // uncapped unchanged
    }
  }

  // ---- token-array BPE kernel == padded string replace (r8 verdict
  // task #2: the t64/t65 oracles pin the replace semantics, so the
  // kernel must reproduce them bit-for-bit on ANY input) --------------

  /** The oracle-pinned reference: one space-padded replace per rule in
    * priority order (encode) / reverse order (decode). */
  private def referenceEncode(rules: Seq[(String, String)], text: String): String =
    rules.foldLeft(" " + text + " ") { case (t, (a, b)) =>
      t.replace(s" $a $b ", s" ${a}_$b ")
    }.trim

  private def referenceDecode(rules: Seq[(String, String)], text: String): String =
    rules.reverse.foldLeft(" " + text + " ") { case (t, (a, b)) =>
      t.replace(s" ${a}_$b ", s" $a $b ")
    }.trim

  test("BpeMerger/BpeSplitter reproduce the padded-replace semantics on random inputs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val tokGen = Gen.oneOf("a", "b", "c", "ab", "x1", "zz")
    val textGen = Gen.listOf(tokGen).map(_.mkString(" "))
    val ruleGen = Gen.zip(tokGen, tokGen)
    // nested rules reference earlier merged tokens — the hard case
    def nested(rs: List[(String, String)]): List[(String, String)] =
      rs.zipWithIndex.map { case ((a, b), i) =>
        if (i >= 2 && i % 3 == 0) { val (pa, pb) = rs(i - 2); (s"${pa}_$pb", b) }
        else (a, b)
      }
    val cases = Gen.zip(textGen, Gen.nonEmptyListOf(ruleGen).map(nested))
    var seed = Seed(42L)
    (1 to 500).foreach { i =>
      val (text, rules) = cases.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val enc = new BpeMerger(rules.toArray)(text)
      assert(enc == referenceEncode(rules, text),
        s"case $i encode diverged: text='$text' rules=$rules")
      val dec = new BpeSplitter(rules.toArray)(enc)
      assert(dec == referenceDecode(rules, enc),
        s"case $i decode diverged: enc='$enc' rules=$rules")
    }
    // repeated-pair and duplicate-rule edges the generator may miss
    assert(new BpeMerger(Array(("a", "b")))("a b a b a b") == "a_b a b a_b")
    assert(new BpeMerger(Array(("a", "b"), ("a", "b")))("a b a b a b")
      == referenceEncode(Seq(("a", "b"), ("a", "b")), "a b a b a b"))
    assert(new BpeSplitter(Array(("a", "b")))("a_b a_b") == "a b a_b")
  }

  test("bpeEncode kernel round-trips a 4096-rule vocabulary with flat per-row cost") {
    import spark.implicits._
    // synthetic corpus over disjoint base tokens t0..t8191; 4096 rules
    // (t2i, t2i+1) — exactly the disjoint-batch family bpeMergeRules-
    // Batched learns, exercising the kernel at production vocab size
    val rules = (0 until 4096).map(i => (s"t${2 * i}", s"t${2 * i + 1}"))
    // even positions open a rule pair (t_{2v}, t_{2v+1}) half the time,
    // odd fall elsewhere — docs mix merging and non-merging adjacencies
    val docs = spark.range(0, 200).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 64).map { j =>
        val v = (col("id") * 7 + (j / 2) * 53) % 4096
        val tok = if (j % 2 == 0) v * 2
          else when((col("id") + j) % 3 === 0, v * 2 + 1) // completes the pair
            .otherwise((v * 2 + 2) % 8192) // breaks it
        concat(lit("t"), tok.cast("string"))
      }: _*).as("text"))
    val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text", rules)
    val dec = TextAnalysis.bpeDecode(enc, "doc_id", "text_enc", rules)
    val diff = dec.as("d").join(docs.as("r"), Seq("doc_id"))
      .filter($"d.text" =!= $"r.text").count()
    assert(diff == 0, s"round-trip diverged on $diff docs at 4096 rules")
    // some rows must actually merge for the gate to mean anything
    val merged = enc.agg(sum($"n_merged")).as[Long].head()
    assert(merged > 0, "fixture never exercised a merge")
  }

  // ---- m78/m85 frequent-pHash cap (r8 verdict #2) --------------------

  test("pHashPairs maxDf collapses the blank-image bucket, textured pairs unchanged") {
    import Round9Fixtures.blankPng
    import spark.implicits._
    // 10 textured + 10 lightly-edited variants (planted pairs) + 30
    // identical blanks — one pHash, hot in all 4 chunks (the blank
    // thumbnail / default-avatar cluster; in the wild these are
    // byte-distinct re-encodes of the same flat image, which is why
    // exact dedup never removes them — identical bytes model the same
    // hot bucket here)
    val png = udf((id: Long) =>
      if (id < 10) Multimodal.syntheticPng(id)
      else if (id < 20) Multimodal.syntheticPngVariant(id - 10)
      else blankPng(128))
    val media = spark.range(0, 50)
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    val uncapped = Multimodal.pairs(PHash)(media, maxDist = 3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val capped = Multimodal.pairs(PHash)(media, maxDist = 3, maxDf = 20)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val blankPairs = (for {
      a <- 20L until 50L; b <- (a + 1) until 50L
    } yield (a, b)).toSet
    assert(blankPairs.subsetOf(uncapped),
      "uncapped run must see the full blank cluster (hash 0 everywhere)")
    assert(capped == uncapped -- blankPairs,
      s"cap must drop exactly the hot-bucket cluster: ${
        (capped -- (uncapped -- blankPairs)) ++ ((uncapped -- blankPairs) -- capped)}")
    val planted = (0L until 10L).map(i => (i, i + 10)).toSet
    assert(capped.intersect(planted).size >= 8,
      s"planted textured pairs lost under cap: $capped")
  }

  test("dedupAgainstPHashIndex maxDf flips hot-bucket probes toward kept only") {
    import Round9Fixtures.blankPng
    import spark.implicits._
    val corpusPng = udf((id: Long) =>
      if (id < 20) blankPng(128)
      else Multimodal.syntheticPng(id - 20))
    val probePng = udf((id: Long) =>
      if (id < 1000005L) blankPng(128)
      else Multimodal.syntheticPngVariant(id - 1000005L))
    val index = Multimodal.pHashChunkIndex(
      spark.range(0, 30).select(col("id").as("doc_id"),
        corpusPng(col("id")).as("payload")))
    val probes = spark.range(1000000L, 1000015L)
      .select(col("id").as("doc_id"), probePng(col("id")).as("payload"))
    def verdicts(maxDf: Int): Map[Long, Option[Long]] =
      Multimodal.screen(PHash)(probes, index, maxDist = 3, maxDf = maxDf)
        .select($"doc_id", $"dup_src").as[(Long, Option[Long])]
        .collect().toMap
    val uncapped = verdicts(0)
    val capped = verdicts(10) // blank index buckets hold 20 > 10
    // blank probes: duplicate of corpus image 0 uncapped, kept capped
    (1000000L until 1000005L).foreach { id =>
      assert(uncapped(id).contains(0L), s"$id should dup to 0 uncapped")
      assert(capped(id).isEmpty, s"$id should flip to kept under cap")
    }
    // textured probes land on their sources either way (rare chunks)
    val texturedHits = (1000005L until 1000015L).count(id =>
      uncapped(id) == capped(id) && capped(id).exists(_ >= 20L))
    assert(texturedHits >= 8, s"textured probes diverged: $capped")
  }

  // ---- m87 combined trim + re-encode (r8 verdict "what's missing" #2) --

  test("videoLandmarkPairsTolerant catches trim+re-encode copies both siblings miss") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // 8 DIB originals + 8 pirate copies: first 2 frames CUT (one
    // `every` stride — blinds aligned matching) AND MJPEG re-encoded
    // (pHash drift per frame — blinds exact landmarks)
    val avi = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticAvi(id, (8 + id % 3).toInt)
      else Multimodal.syntheticAvi(id - 20, (8 + (id - 20) % 3).toInt - 2,
        mjpeg = true, frameOffset = 2))
    val media = spark.range(0, 8).union(spark.range(20, 28))
      .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
    val planted = (0L until 8L).map(i => (i, i + 20)).toSet
    val aligned = Multimodal.pairs(VideoFrames())(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val exact = Multimodal.pairs(VideoShift())(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val tolerant = Multimodal.videoLandmarkPairsTolerant(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(aligned.intersect(planted).isEmpty,
      s"aligned matching should be blind to the trim: $aligned")
    assert(exact.intersect(planted).isEmpty,
      s"exact landmarks should be blind to the re-encode: $exact")
    assert(tolerant.intersect(planted).size >= 6,
      s"tolerant landmarks should catch the pirate copies: $tolerant")
    assert((tolerant -- planted).isEmpty,
      s"false pairs: ${tolerant -- planted}")
  }

  // ---- t72 index maintenance (r8 verdict task #4) --------------------

  test("IncrementalIndex.append equals a from-scratch rebuild, and screens like it") {
    import spark.implicits._
    val docs = spark.range(0, 30).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(j =>
        concat(lit("w"), ((col("id") * 13 + j * 7) % 40).cast("string"))): _*)
        .as("text"))
    val index0 = TextDedup.minHashBandIndex(docs, "doc_id", "text")
    // docs 0-3 get replaced content and re-index (LWW), then an ingest
    // batch of novel docs is accepted and appended
    val updated = docs.filter($"doc_id" < 4)
      .select($"doc_id", reverse($"text").as("text"))
    val accepted = spark.range(100, 110).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(j =>
        concat(lit("v"), ((col("id") * 17 + j * 11) % 40).cast("string"))): _*)
        .as("text"))
    val incremental = IncrementalIndex.append(
      IncrementalIndex.append(index0,
        TextDedup.minHashBandIndex(updated, "doc_id", "text")),
      TextDedup.minHashBandIndex(accepted, "doc_id", "text"))
    val equivalentDocs = docs.filter($"doc_id" >= 4)
      .unionAll(updated).unionAll(accepted)
    val rebuilt = TextDedup.minHashBandIndex(equivalentDocs, "doc_id", "text")
    // row-set equality (compare via a row hash — set ops on array
    // columns are version-sensitive)
    def rowHashes(df: org.apache.spark.sql.DataFrame) =
      df.select(md5(concat_ws("|", col("band"), col("band_key"),
        col("doc_id"), concat_ws(",", col("sig")))).as("h"))
        .as[String].collect().sorted.toSeq
    assert(rowHashes(incremental) == rowHashes(rebuilt),
      "incrementally-appended index must be row-identical to a rebuild")
    // and screening a batch through either index gives identical verdicts
    val b2 = docs.filter($"doc_id" >= 4 && $"doc_id" < 8)
      .select(($"doc_id" + 500).as("doc_id"),
        concat($"text", lit(" tail tail tail")).as("text"))
    def verdicts(ix: org.apache.spark.sql.DataFrame) =
      TextDedup.dedupAgainstIndex(b2, ix, "doc_id", "text")
        .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1).toSeq
    assert(verdicts(incremental) == verdicts(rebuilt))
  }

  // ---- m88 AVI audio-track extraction (r8 verdict task #5) -----------

  test("aviAudioWav round-trips the embedded PCM track bit-for-bit") {
    val avi = Multimodal.syntheticAvi(3L, 5, audioId = 9L, audioSamples = 321)
    val wav = Multimodal.aviAudioWav(avi)
    assert(wav.isDefined, "audio track must extract")
    val pcm = Multimodal.decodeWav(wav.get)
    assert(pcm.isDefined && pcm.get.sampleRate == 8000 && pcm.get.channels == 1)
    val expected = (0 until 321).map(n =>
      (((9L * 40503L + 12289L) * (n + 7L) * (n + 13L)) % 65536L - 32768L).toShort)
    assert(pcm.get.samples.toSeq == expected,
      "extracted samples must equal the synthetic stream")
    // no audio track -> None; video frames unaffected by the track
    assert(Multimodal.aviAudioWav(Multimodal.syntheticAvi(3L, 5)).isEmpty)
    assert(Multimodal.aviFrames(avi).get.size == 5)
  }

  test("same-audio different-video pairs surface via extraction + landmarks") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // 8 videos, audio id = id % 4: pairs (i, i+4) share the exact audio
    // under entirely different frame streams
    val avi = udf((id: Long) =>
      Multimodal.syntheticAvi(id, (6 + id % 3).toInt,
        audioId = id % 4, audioSamples = (320 + (id % 4) * 64).toInt))
    val media = spark.range(0, 8)
      .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
    val pairs = Multimodal.pairs(AudioLandmark())(Multimodal.videoAudioTracks(media))
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 4L).map(i => (i, i + 4)).toSet
    assert(pairs == planted, s"expected $planted, got $pairs")
    // the video tier sees nothing: frame streams are unrelated
    val videoPairs = Multimodal.pairs(VideoFrames())(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(videoPairs.isEmpty, s"video tier should see nothing: $videoPairs")
  }

  // ---- m82/m78 cap placement: left_semi BEFORE the posting-list
  // aggregation (the hot bucket must never materialize in one task) ----

  test("capped pair plans filter before collect_list (semi join below the aggregate)") {
    implicit val sp: SparkSession = spark
    val avi = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticAvi(id, (6 + id % 3).toInt, intro = 2)
      else Multimodal.syntheticAvi(id - 20, (6 + (id - 20) % 3).toInt,
        mjpeg = true, intro = 2))
    val vmedia = spark.range(0, 8).union(spark.range(20, 28))
      .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
    val vplan = Multimodal.pairs(VideoFrames())(vmedia, maxDf = 8)
      .queryExecution.optimizedPlan.toString
    assert(vplan.contains("LeftSemi"), "m82 cap must be a left_semi")
    assert(vplan.indexOf("collect_list") < vplan.indexOf("LeftSemi"),
      "m82 cap must sit BELOW the posting-list aggregation")

    val png = udf((id: Long) => Multimodal.syntheticPng(id))
    val imedia = spark.range(0, 10)
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    val iplan = Multimodal.pairs(PHash)(imedia, maxDist = 3, maxDf = 8)
      .queryExecution.optimizedPlan.toString
    assert(iplan.contains("LeftSemi"), "m78 cap must be a left_semi")
    assert(iplan.indexOf("collect_list") < iplan.indexOf("LeftSemi"),
      "m78 cap must sit BELOW the posting-list aggregation")
  }

  // ---- MP4 (ISO-BMFF) container walk: frames/audio equal the AVI mux
  // of the SAME content, damage degrades gracefully -------------------

  test("mp4Frames/mp4AudioWav equal the AVI mux of the same content byte-for-byte") {
    for (id <- 0L to 2L; co64 <- Seq(false, true)) {
      val n = (4 + id % 3).toInt
      val avi = Multimodal.syntheticAvi(id, n, mjpeg = true,
        audioId = id % 2, audioSamples = 320)
      val mp4 = Multimodal.syntheticMp4(id, n,
        audioId = id % 2, audioSamples = 320, co64 = co64)
      val fa = Multimodal.aviFrames(avi).get
      val fm = Multimodal.mp4Frames(mp4).get
      assert(fm.size == n && fa.size == n)
      fm.zip(fa).foreach { case (m, a) =>
        assert(java.util.Arrays.equals(m, a), s"frame bytes diverge (id=$id)") }
      val wa = Multimodal.aviAudioWav(avi).get
      val wm = Multimodal.mp4AudioWav(mp4).get
      assert(java.util.Arrays.equals(wm, wa),
        s"extracted WAV diverges (id=$id, co64=$co64)")
    }
    // no audio track -> None; frames unaffected
    assert(Multimodal.mp4AudioWav(Multimodal.syntheticMp4(1L, 4)).isEmpty)
    assert(Multimodal.mp4Frames(Multimodal.syntheticMp4(1L, 4)).get.size == 4)
  }

  test("mp4 walk: big-endian 'twos' PCM byte-swaps to the same samples") {
    val mp4 = Multimodal.syntheticMp4(5L, 3, audioId = 7L, audioSamples = 250)
    val sowt = Multimodal.mp4AudioWav(mp4).get
    // rewrite the stsd codec fourcc and byte-swap the PCM in mdat: the
    // identical stream muxed big-endian
    val patched = mp4.clone()
    val at = patched.indexOfSlice("sowt".getBytes("US-ASCII"))
    assert(at > 0, "codec fourcc must be present")
    "twos".getBytes("US-ASCII").copyToArray(patched, at)
    val dataStart = patched.indexOfSlice("mdat".getBytes("US-ASCII")) + 4
    val audioOff = dataStart +
      Multimodal.mp4Frames(mp4).get.map(_.length).sum
    var i = audioOff
    while (i + 1 < audioOff + 500) {
      val b = patched(i); patched(i) = patched(i + 1); patched(i + 1) = b
      i += 2
    }
    val twos = Multimodal.mp4AudioWav(patched).get
    assert(java.util.Arrays.equals(twos, sowt),
      "byte-swapped 'twos' stream must decode to the same WAV")
  }

  test("mp4 walk degrades gracefully on damage and unknown codecs") {
    val mp4 = Multimodal.syntheticMp4(2L, 5)
    // truncation inside mdat: moov (and so the sample table) is gone ->
    // BMFF still recognized, no frames claimed, nothing thrown
    val cut = java.util.Arrays.copyOfRange(mp4, 0, mp4.length / 2)
    assert(Multimodal.mp4Frames(cut).exists(_.isEmpty))
    // unknown video codec: walk fine, no decodable frames
    val patched = mp4.clone()
    val at = patched.indexOfSlice("jpeg".getBytes("US-ASCII"))
    "av01".getBytes("US-ASCII").copyToArray(patched, at)
    assert(Multimodal.mp4Frames(patched).exists(_.isEmpty))
    // non-BMFF payloads are None, not empty (the dispatch contract)
    assert(Multimodal.mp4Frames("not a container".getBytes).isEmpty)
    assert(Multimodal.mp4Frames(Multimodal.syntheticAvi(2L, 3)).isEmpty)
    // and containerFrames dispatches both muxes
    assert(Multimodal.containerFrames(Multimodal.syntheticAvi(2L, 3)).get.size == 3)
    assert(Multimodal.containerFrames(mp4).get.size == 5)
  }

  test("fMP4 (moof/trun) fragments equal the plain-MP4 mux frame-for-frame") {
    for (id <- 0L to 2L; perFrag <- Seq(1, 2, 3)) {
      val n = (5 + id % 3).toInt
      val plain = Multimodal.mp4Frames(Multimodal.syntheticMp4(id, n)).get
      val frag = Multimodal.mp4Frames(
        Multimodal.syntheticFmp4(id, n, perFrag = perFrag)).get
      assert(frag.size == n, s"id=$id perFrag=$perFrag: ${frag.size} != $n")
      frag.zip(plain).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a, b), "fragment sample bytes diverge") }
    }
    // truncation mid-stream: frames from intact fragments still return
    val whole = Multimodal.syntheticFmp4(1L, 6, perFrag = 2)
    val frames = Multimodal.mp4Frames(whole).get
    val cut = java.util.Arrays.copyOfRange(whole, 0, whole.length - 10)
    val partial = Multimodal.mp4Frames(cut).get
    assert(partial.nonEmpty && partial.size < frames.size,
      s"expected a proper prefix, got ${partial.size}/${frames.size}")
    partial.zip(frames).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b), "surviving frames must be a prefix") }
  }

  test("fMP4 audio fragments (track-2 trun runs) extract the same WAV as the plain mux") {
    for (id <- 0L to 2L; perFrag <- Seq(1, 2)) {
      val n = (4 + id % 3).toInt
      val plain = Multimodal.mp4AudioWav(
        Multimodal.syntheticMp4(id, n, audioId = id % 2, audioSamples = 320)).get
      val frag = Multimodal.mp4AudioWav(
        Multimodal.syntheticFmp4(id, n, perFrag = perFrag,
          audioId = id % 2, audioSamples = 320)).get
      assert(java.util.Arrays.equals(frag, plain),
        s"fragment-resident audio diverges (id=$id perFrag=$perFrag)")
      // video frames unaffected by the second track's fragments
      val fv = Multimodal.mp4Frames(Multimodal.syntheticFmp4(id, n,
        perFrag = perFrag, audioId = id % 2, audioSamples = 320)).get
      assert(fv.size == n)
    }
    // no audio -> None, as in the plain mux
    assert(Multimodal.mp4AudioWav(Multimodal.syntheticFmp4(1L, 4)).isEmpty)
  }

  test("cross-container near-dup: the same video muxed AVI and MP4 matches at 1.0") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val mk = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticAvi(id, (6 + id % 3).toInt, mjpeg = true)
      else Multimodal.syntheticMp4(id - 20, (6 + (id - 20) % 3).toInt))
    val media = spark.range(0, 4).union(spark.range(20, 24))
      .select(col("id").as("doc_id"), mk(col("id")).as("payload"))
    val pairs = Multimodal.pairs(VideoFrames())(media)
      .select($"doc_a", $"doc_b", $"match_frac").as[(Long, Long, Double)]
      .collect().toSet
    val planted = (0L until 4L).map(i => (i, i + 20, 1.0)).toSet
    assert(pairs == planted, s"expected $planted, got $pairs")
  }

  test("mkvFrames/mkvAudioWav equal the AVI mux of the same content byte-for-byte") {
    for (id <- 0L to 2L; vfw <- Seq(false, true); bg <- Seq(false, true)) {
      val n = (4 + id % 3).toInt
      val avi = Multimodal.syntheticAvi(id, n, mjpeg = true,
        audioId = id % 2, audioSamples = 320)
      val mkv = Multimodal.syntheticMkv(id, n,
        audioId = id % 2, audioSamples = 320, vfw = vfw, blockGroup = bg)
      val fa = Multimodal.aviFrames(avi).get
      val fm = Multimodal.mkvFrames(mkv).get
      assert(fm.size == n && fa.size == n)
      fm.zip(fa).foreach { case (m, a) =>
        assert(java.util.Arrays.equals(m, a),
          s"frame bytes diverge (id=$id vfw=$vfw bg=$bg)") }
      val wa = Multimodal.aviAudioWav(avi).get
      val wm = Multimodal.mkvAudioWav(mkv).get
      assert(java.util.Arrays.equals(wm, wa),
        s"extracted WAV diverges (id=$id vfw=$vfw bg=$bg)")
    }
    // no audio track -> None; frames unaffected
    assert(Multimodal.mkvAudioWav(Multimodal.syntheticMkv(1L, 4)).isEmpty)
    assert(Multimodal.mkvFrames(Multimodal.syntheticMkv(1L, 4)).get.size == 4)
  }

  test("mkv unknown-size Segment (live-stream mux) walks identically") {
    for (id <- 0L to 2L) {
      val n = (5 + id % 2).toInt
      val sized = Multimodal.mkvFrames(Multimodal.syntheticMkv(id, n)).get
      val live = Multimodal.mkvFrames(
        Multimodal.syntheticMkv(id, n, unknownSize = true)).get
      assert(live.size == n)
      live.zip(sized).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a, b),
          "unknown-size Segment must yield the same blocks") }
    }
  }

  test("mkv walk degrades gracefully on damage and unknown codecs") {
    val mkv = Multimodal.syntheticMkv(2L, 6)
    val frames = Multimodal.mkvFrames(mkv).get
    // truncation mid-cluster: blocks before the cut still return
    val cut = java.util.Arrays.copyOfRange(mkv, 0, mkv.length - 10)
    val partial = Multimodal.mkvFrames(cut).get
    assert(partial.nonEmpty && partial.size < frames.size,
      s"expected a proper prefix, got ${partial.size}/${frames.size}")
    partial.zip(frames).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b), "surviving frames must be a prefix") }
    // unknown (real-WebM) video codec: walk fine, no decodable frames
    val patched = mkv.clone()
    val at = patched.indexOfSlice("V_MJPEG".getBytes("US-ASCII"))
    assert(at > 0)
    "V_VP9\u0000\u0000".getBytes("US-ASCII").copyToArray(patched, at)
    assert(Multimodal.mkvFrames(patched).exists(_.isEmpty))
    // VfW mux whose BITMAPINFOHEADER is NOT MJPEG: undecodable too
    val vfw = Multimodal.syntheticMkv(2L, 3, vfw = true)
    val vp = vfw.clone()
    val cp = vp.indexOfSlice(Array[Byte]('M', 'J', 'P', 'G'))
    assert(cp > 0)
    vp(cp) = 'X'
    assert(Multimodal.mkvFrames(vp).exists(_.isEmpty))
    // non-EBML payloads are None, not empty (the dispatch contract)
    assert(Multimodal.mkvFrames("not a container".getBytes).isEmpty)
    assert(Multimodal.mkvFrames(Multimodal.syntheticAvi(2L, 3)).isEmpty)
    // and containerFrames dispatches all three muxes
    assert(Multimodal.containerFrames(mkv).get.size == 6)
    assert(Multimodal.containerFrames(
      Multimodal.syntheticMp4(2L, 5)).get.size == 5)
    assert(Multimodal.containerFrames(
      Multimodal.syntheticAvi(2L, 3)).get.size == 3)
  }

  test("mkv subtitle track extracts newline-joined cues alongside video+audio") {
    val mkv = Multimodal.syntheticMkv(4L, 5, audioId = 1L,
      audioSamples = 320, subsId = 7L, subsCues = 4)
    val expected = (0 until 4)
      .map(i => s"c${(7L * 40503L + i * 127L) % 9973L}").mkString("\n")
    assert(Multimodal.mkvSubtitleText(mkv).contains(expected))
    // the other two tracks are unaffected by the third
    assert(Multimodal.mkvFrames(mkv).get.size == 5)
    assert(Multimodal.mkvAudioWav(mkv).nonEmpty)
    // no subtitle track -> None; non-MKV containers -> None
    assert(Multimodal.mkvSubtitleText(Multimodal.syntheticMkv(4L, 3)).isEmpty)
    assert(Multimodal.mkvSubtitleText(Multimodal.syntheticAvi(4L, 3)).isEmpty)
  }

  test("walkers never throw on random or bit-flipped payloads") {
    // ingest-safety fuzz: pure-random buffers plus single-byte
    // mutations of VALID fixtures (the nastier class — valid headers,
    // corrupt interiors). Deterministic seed; every extractor must
    // return an Option, never throw.
    val rnd = new scala.util.Random(20260814L)
    def exercise(p: Array[Byte]): Unit = {
      Multimodal.aviFrames(p); Multimodal.aviAudioWav(p)
      Multimodal.mp4Tracks(p); Multimodal.mp4AudioWav(p)
      Multimodal.mkvBlocks(p); Multimodal.mkvAudioWav(p)
      Multimodal.mkvSubtitleText(p); Multimodal.decodeWav(p)
      Multimodal.containerFrames(p); Multimodal.containerAudioWav(p)
      ()
    }
    for (_ <- 0 until 200) {
      val n = 1 + rnd.nextInt(512)
      val b = new Array[Byte](n); rnd.nextBytes(b)
      exercise(b)
    }
    val fixtures = Seq(
      Multimodal.syntheticAvi(3L, 5, mjpeg = true, audioId = 1L,
        audioSamples = 320),
      Multimodal.syntheticMp4(3L, 4, audioId = 1L, audioSamples = 256),
      Multimodal.syntheticFmp4(3L, 4, perFrag = 2),
      Multimodal.syntheticMkv(3L, 4, audioId = 1L, audioSamples = 256,
        subsId = 2L, subsCues = 4),
      Multimodal.syntheticWavTex(3L, 256))
    for (f <- fixtures; _ <- 0 until 100) {
      val m = f.clone()
      val k = 1 + rnd.nextInt(4)
      for (_ <- 0 until k)
        m(rnd.nextInt(m.length)) = (rnd.nextInt(256) - 128).toByte
      exercise(m)
      // truncations too — any cut point must degrade, not throw
      exercise(java.util.Arrays.copyOfRange(m, 0, rnd.nextInt(m.length)))
    }
  }

  test("adversarial deep nesting cannot blow the walkers' stack") {
    // 4096-deep nesting in each container grammar: the recursion caps
    // must stop the walk (returning whatever parsed) instead of
    // StackOverflowError — which NonFatal does NOT catch, so without
    // the cap a crafted payload would kill the executor task
    val le = (v: Int) => Array[Byte]((v & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 24) & 0xff).toByte)
    val be = (v: Int) => le(v).reverse
    val depth = 4096
    // AVI: RIFF/AVI header + nested LIST chain
    val avi = new java.io.ByteArrayOutputStream()
    avi.write("RIFF".getBytes); avi.write(le(4 + depth * 12))
    avi.write("AVI ".getBytes)
    for (d <- 0 until depth) {
      avi.write("LIST".getBytes); avi.write(le((depth - d) * 12 - 8))
      avi.write("hdrl".getBytes)
    }
    assert(Multimodal.aviFrames(avi.toByteArray).nonEmpty) // returns, no throw
    assert(Multimodal.aviAudioWav(avi.toByteArray).isEmpty)
    // MP4: ftyp + nested moov chain
    val mp4 = new java.io.ByteArrayOutputStream()
    mp4.write(be(16)); mp4.write("ftyp".getBytes); mp4.write("isom".getBytes)
    mp4.write(be(0))
    for (d <- 0 until depth) {
      mp4.write(be((depth - d) * 8)); mp4.write("moov".getBytes)
    }
    assert(Multimodal.mp4Tracks(mp4.toByteArray).nonEmpty)
    // MKV: EBML magic + nested BlockGroup chain (1-byte id 0xA0 +
    // 2-byte size vint)
    val mkv = new java.io.ByteArrayOutputStream()
    mkv.write(Array(0x1A, 0x45, 0xDF, 0xA3, 0x80).map(_.toByte)) // empty header
    val segBody = depth * 3
    mkv.write(Array(0x18, 0x53, 0x80, 0x67).map(_.toByte)) // Segment id
    mkv.write(Array((0x40 | ((segBody >> 8) & 0x3f)).toByte, (segBody & 0xff).toByte))
    for (d <- 0 until depth) {
      val inner = (depth - 1 - d) * 3
      mkv.write(Array(0xA0.toByte,
        (0x40 | ((inner >> 8) & 0x3f)).toByte, (inner & 0xff).toByte))
    }
    assert(Multimodal.mkvBlocks(mkv.toByteArray).nonEmpty)
  }

  test("dedupAgainstVideoIndex decisions match videoNearDupPairs on the union") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val avi = udf((id: Long) =>
      if (id < 1000000L) Multimodal.syntheticAvi(id, (4 + id % 3).toInt)
      else Multimodal.syntheticAvi(id - 1000000L,
        (4 + (id - 1000000L) % 3).toInt, delta = 12, global0 = true))
    val corpus = spark.range(0, 10)
      .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
    val probes = spark.range(1000000L, 1000010L)
      .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
    val viaIndex = Multimodal.dedupAgainstVideoIndex(probes,
      Multimodal.videoChunkIndex(corpus))
      .filter(!col("kept"))
      .select($"dup_src", $"doc_id").as[(Long, Long)].collect().toSet
    // the batch operator on the union, restricted to cross pairs with
    // the same keep-lowest resolution
    val crossPairs = Multimodal.pairs(VideoFrames())(corpus.unionAll(probes))
      .filter($"doc_a" < 1000000L && $"doc_b" >= 1000000L)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val viaPairs = crossPairs.groupBy(_._2)
      .map { case (b, xs) => (xs.map(_._1).min, b) }.toSet
    assert(viaIndex == viaPairs, s"index: $viaIndex vs pairs: $viaPairs")
    assert(viaIndex.nonEmpty, "fixture must plant at least one duplicate")
  }

  test("resampled audio decimates back to the master fingerprint") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val wav = udf((id: Long) =>
      if (id < 10) Multimodal.syntheticWavTex(id, 320)
      else Multimodal.syntheticWavTexRate(id - 10, 320, factor = (id % 3 + 2).toInt))
    val media = spark.range(0, 3).union(spark.range(10, 13))
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val codes = Multimodal.audioFingerprint(media).toDF()
      .select($"doc_id", $"frame_idx", $"code").as[(Long, Int, Int)]
      .collect().groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet)
    for (i <- 0L until 3L)
      assert(codes(i) == codes(i + 10),
        s"doc $i: resampled fingerprint must equal the 8kHz master's")
    // a NON-multiple rate passes through unchanged (no false recovery)
    val odd = Multimodal.decodeWav(
      Multimodal.syntheticWavTex(1L, 320)).get
    assert(odd.sampleRate == 8000) // fixture sanity: base rate is canonical
  }

  test("flip-tolerant pHash catches mirrored reposts, supersets plain pairs") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // the mirrored image's as-is hash equals the original's
    // mirrored-grid hash at the 16x16 fixture size (cell-exact mirror)
    val (ph0, phf0) = Multimodal.pHash64Both(Multimodal.syntheticPng(7L)).get
    val flipped = Multimodal.pHash64(Multimodal.syntheticPngFlip(7L)).get
    assert(flipped == phf0 && flipped != ph0,
      "mirror must change the hash and match the mirrored-grid hash")
    val png = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticPng(id)
      else if (id < 24) Multimodal.syntheticPngFlip(id - 20)
      else Multimodal.syntheticPngVariant(id - 20))
    val media = spark.range(0, 6).union(spark.range(20, 26))
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    val tolerant = Multimodal.pairs(PHashFlip)(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // every mirrored repost lands on its source...
    for (i <- 0L until 4L)
      assert(tolerant.contains((i, i + 20)), s"flip pair ($i, ${i + 20}) missed")
    // ...and plain near-dup pairs still surface (strict superset)
    val plain = Multimodal.pairs(PHash)(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(plain.subsetOf(tolerant),
      s"tolerant must superset plain: missing ${plain -- tolerant}")
    assert(plain.contains((4L, 24L)) || tolerant.contains((4L, 24L)),
      "unflipped variant pair must surface")
  }

  test("flip-tolerant video catches mirrored re-leveled re-uploads") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val avi = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticAvi(id, (4 + id % 3).toInt)
      else Multimodal.syntheticAvi(id - 20, (4 + (id - 20) % 3).toInt,
        delta = 12, global0 = true, mirrorX = true))
    val media = spark.range(0, 4).union(spark.range(20, 24))
      .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
    // the plain aligned tier is blind to the mirror...
    val plain = Multimodal.pairs(VideoFrames())(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(!plain.exists(p => p._2 == p._1 + 20),
      s"plain tier should miss mirrored pairs, got $plain")
    // ...the flip-tolerant tier catches every planted pair
    val tol = Multimodal.pairs(VideoFramesFlip())(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    for (i <- 0L until 4L)
      assert(tol.contains((i, i + 20)), s"mirrored pair ($i, ${i + 20}) missed: $tol")
  }

  test("oriented landmarks: a trimmed+mirrored copy matches via orient-1 only") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val base = spark.range(0, 1).select(col("id").as("doc_id"),
      udf(() => Multimodal.syntheticAvi(5L, 8)).apply().as("payload"))
    val copy = spark.range(1, 2).select(col("id").as("doc_id"),
      udf(() => Multimodal.syntheticAvi(5L, 6, frameOffset = 2,
        mirrorX = true)).apply().as("payload"))
    val lmBase = Multimodal.videoLandmarks(base, every = 2).collect()
      .map(l => (l.lm_a, l.lm_b)).toSet
    val lmCopyPlain = Multimodal.videoLandmarks(copy, every = 2).collect()
      .map(l => (l.lm_a, l.lm_b)).toSet
    assert(lmBase.intersect(lmCopyPlain).isEmpty,
      "the plain landmark tier must be blind to the mirrored copy")
    val oriented = Multimodal.videoLandmarksOriented(copy).collect()
    val lmCopyMirror = oriented.filter(_.orient == 1)
      .map(l => (l.lm_a, l.lm_b)).toSet
    assert(lmCopyMirror.nonEmpty && lmCopyMirror.subsetOf(lmBase),
      "the mirrored-orientation landmarks must be interior landmarks of the base")
  }

  test("rotation-tolerant pHash catches quarter-turned reposts") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // square-image exactness: the rotated image's as-is hash equals
    // the original's correspondingly-rotated grid hash, per turn
    val rots = Multimodal.pHash64Rots(Multimodal.syntheticPng(9L)).get
    for (q <- 1 to 3) {
      val h = Multimodal.pHash64(Multimodal.syntheticPngRot(9L, q)).get
      assert(h == rots(q), s"quarter-turn $q hash mismatch")
      assert(h != rots(0), s"quarter-turn $q should change the hash")
    }
    val png = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticPng(id)
      else Multimodal.syntheticPngRot(id - 20, (id % 3 + 1).toInt))
    val media = spark.range(0, 6).union(spark.range(20, 26))
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    val tol = Multimodal.pairs(PHashRot)(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    for (i <- 0L until 6L)
      assert(tol.contains((i, i + 20)), s"rotated pair ($i, ${i + 20}) missed")
    // superset of the plain pairs at the same threshold
    val plain = Multimodal.pairs(PHash)(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(plain.subsetOf(tol))
  }

  test("dual-mono stereo downmixes back to the master fingerprint") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val wav = udf((id: Long) =>
      if (id < 10) Multimodal.syntheticWavTex(id, 320)
      else Multimodal.syntheticWavTexStereo(id - 10, 320))
    val media = spark.range(0, 3).union(spark.range(10, 13))
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val codes = Multimodal.audioFingerprint(media).toDF()
      .select($"doc_id", $"frame_idx", $"code").as[(Long, Int, Int)]
      .collect().groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet)
    for (i <- 0L until 3L)
      assert(codes(i) == codes(i + 10),
        s"doc $i: stereo fingerprint must equal the mono master's")
    // fixture sanity: the stereo payload really declares 2 channels
    assert(Multimodal.decodeWav(
      Multimodal.syntheticWavTexStereo(1L, 64)).get.channels == 2)
  }

  test("mkv explicit cueLines round-trip UTF-8 text exactly") {
    val lines = Seq("héllo wörld", "日本語テスト", "plain ascii", "émoji ✓")
    val mkv = Multimodal.syntheticMkv(1L, 3, cueLines = lines)
    assert(Multimodal.mkvSubtitleText(mkv).contains(lines.mkString("\n")))
    // empty lines are dropped (an empty block payload is not a cue)
    val sparse = Multimodal.syntheticMkv(1L, 3, cueLines = Seq("a", "", "b"))
    assert(Multimodal.mkvSubtitleText(sparse).contains("a\nb"))
    // cueLines of only empties -> no subtitle track at all
    assert(Multimodal.mkvSubtitleText(
      Multimodal.syntheticMkv(1L, 3, cueLines = Seq("", ""))).isEmpty)
  }

  test("joint audio+video fusion classifies reupload / same_audio / same_video") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val mk = udf(Round9Fixtures.jointFixture _)
    val media = spark.range(0, 4).union(spark.range(20, 24))
      .select(col("id").as("doc_id"), mk(col("id")).as("payload"))
    val out = Multimodal.videoJointNearDup(media)
      .select($"doc_a", $"doc_b", $"verdict").as[(Long, Long, String)]
      .collect().toSet
    assert(out == Set((0L, 20L, "reupload"), (1L, 21L, "same_audio"),
      (2L, 22L, "same_video")), s"got $out")
  }
}

/** Serializable fixture generators (UDF closures must not capture the
  * suite — it holds the SparkSession). */
object Round9Fixtures {

  /** The m95 fixture: AVI corpus 0-3 (own audio each), re-uploads
    * 20-23 planted as the three fusion shapes — 20 = frames+audio of 0
    * muxed MKV, 21 = audio of 1 under other frames muxed MP4, 22 =
    * frames of 2 under other audio, 23 unrelated. */
  def jointFixture(id: Long): Array[Byte] = id match {
    case 20L => Multimodal.syntheticMkv(0L, 6, audioId = 0L, audioSamples = 320)
    case 21L => Multimodal.syntheticMp4(21L, 7, audioId = 1L, audioSamples = 384)
    case 22L => Multimodal.syntheticMkv(2L, 8, audioId = 99L, audioSamples = 320)
    case 23L => Multimodal.syntheticAvi(23L, 6, mjpeg = true,
      audioId = 98L, audioSamples = 320)
    case i => Multimodal.syntheticAvi(i, (6 + i % 3).toInt, mjpeg = true,
      audioId = i, audioSamples = (320 + (i % 4) * 64).toInt)
  }

  /** Constant-color PNG: every AC coefficient is 0, so pHash == 0
    * regardless of the gray level — the universal hot bucket (blank
    * thumbnails / tracking pixels / default avatars). */
  def blankPng(gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, (gray << 16) | (gray << 8) | gray)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}
