package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{AudioOnset, AudioSpectralCode,
  AudioSpectralLandmark}

/** Round-11 additions: the drift-free spectral frame grid (round-10
  * ADVICE #1), onset-anchored spectral landmarks (arbitrary-offset
  * trims), EXIF orientation normalization at decode, bounded CDC
  * chunking, and the winnowing/CDC incremental indexes. */
class Round11Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---- drift-free spectral frame grid (round-10 ADVICE medium) ------

  test("spectral codes stay cross-rate aligned over long audio (no hop truncation drift)") {
    // 30 s at 11025 Hz: the 64 ms hop is 705.6 samples, so the old
    // accumulated-truncation grid (off = t * 705) drifted 0.6
    // samples/frame — ~25 ms of misalignment by the tail, flipping
    // straddle codes vs the exactly-gridded 8 kHz master. The
    // per-frame absolute-time grid must keep ALL codes identical.
    val w8 = Multimodal.decodeWav(
      Media.syntheticWavTones(7L, 8000, ms = 30000)).get
    val w11 = Multimodal.decodeWav(
      Media.syntheticWavTones(7L, 11025, ms = 30000)).get
    val c8 = Multimodal.spectralFrameCodes(w8)
    val c11 = Multimodal.spectralFrameCodes(w11)
    assert(c8.length == c11.length,
      s"frame counts diverge: ${c8.length} vs ${c11.length}")
    assert(c8.length > 400, s"expected ~468 frames, got ${c8.length}")
    val diff = c8.indices.count(i => c8(i) != c11(i))
    assert(diff == 0, s"$diff of ${c8.length} codes differ across rates")
  }

  // ---- m115: onset-anchored landmarks vs every grid tier ------------

  test("onset-anchored landmarks catch 50ms-trim + fractional resample; all grid tiers miss") {
    implicit val s: SparkSession = spark
    val wav = udf((id: Long) =>
      if (id < 20) Media.syntheticWavTones(id, 8000, ms = 1248,
        gateMs = 32, segMs = 96, permMs = 32)
      else Media.syntheticWavTones(id - 20, 44100, ms = 1120,
        offsetMs = 50, gateMs = 32, segMs = 96, permMs = 32))
    val media = spark.range(0, 4).union(spark.range(20, 24))
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    val planted = (0L until 4L).map(i => (i, i + 20)).toSet
    assert(pairs(Multimodal.pairs(AudioOnset())(media)) == planted)
    // 50 ms is a multiple of neither hop: every grid-anchored tier is
    // blind to the compound, at its shipped threshold AND with margin
    // (top planted grid score measured < 0.25 on the full fixture)
    assert((pairs(Multimodal.pairs(AudioSpectralLandmark())(media))
      & planted).isEmpty, "default-hop grid landmarks must miss")
    assert((pairs(Multimodal.pairs(AudioSpectralLandmark(hopMs = 32))(media))
      & planted).isEmpty, "hop=32 grid landmarks must miss")
    assert((pairs(Multimodal.pairs(AudioSpectralCode)(media)) & planted).isEmpty,
      "aligned spectral codes must miss")
    // streaming form: the trimmed re-deliveries land on their masters
    // with the shipped cap on (the st89 verdict family)
    val hits = StreamingNearDup.hits(AudioOnset())(media, maxBucket = 64)
      .select(col("doc_id"), col("hits")).as[(Long, Seq[Long])]
      .collect().groupBy(_._1)
      .map { case (id, xs) => (id, xs.flatMap(_._2)) }
    // a re-upload carries ~10 joint-code landmarks; >= 7 shared with
    // its master clears the 0.6 metric with margin
    (20L until 24L).foreach { id =>
      assert(hits(id).count(_ == id - 20L) >= 7,
        s"re-delivery $id: ${hits(id).toSeq}")
    }
    // silence-free audio has no onsets: the tier drops out instead of
    // fabricating landmarks (the grid tiers cover that corpus)
    val ungated = udf((id: Long) => Media.syntheticWavTones(id, 8000))
    val flat = spark.range(0, 2)
      .select(col("id").as("doc_id"), ungated(col("id")).as("payload"))
    assert(AudioOnset().landmarks(flat).count() == 0L)
  }

  test("adaptive onset threshold catches re-leveled re-uploads the absolute tier cannot see") {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val wav = udf((id: Long) =>
      if (id < 20) Media.syntheticWavTones(id, 8000, ms = 1248,
        gateMs = 32, segMs = 96, permMs = 32)
      else Media.syntheticWavTones(id - 20, 44100, ms = 1120,
        offsetMs = 50, gateMs = 32, segMs = 96, permMs = 32,
        gainNum = 1, gainDen = 16))
    val media = spark.range(0, 4).union(spark.range(20, 24))
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    // the 1/16-leveled re-uploads peak below the absolute threshold:
    // the m115 tier emits ZERO landmarks for them — not a low score, a
    // structural miss
    val quiet = media.filter(col("doc_id") >= 20)
    assert(AudioOnset().landmarks(quiet).count() == 0L,
      "absolute threshold must find no onsets in the quiet re-uploads")
    // peak-relative threshold restores the tier: every planted pair
    // lands (spectral code bits are amplitude-ordering, so the
    // re-level costs nothing once onsets anchor)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    val planted = (0L until 4L).map(i => (i, i + 20)).toSet
    assert(pairs(Multimodal.pairs(AudioOnset(thresholdFrac = 0.125))(media,
      maxDf = 64)) == planted)
  }

  // ---- m116: EXIF orientation normalization at decode ---------------

  test("EXIF-tagged reposts land via plain pHash; stripping the tag restores the miss") {
    for ((id, o) <- Seq((0L, 6), (1L, 8), (2L, 3), (3L, 2), (6L, 5), (7L, 7))) {
      val master = Multimodal.pHash64(Media.syntheticPng(id)).get
      val tagged = Media.syntheticJpegExif(id, o)
      assert(Multimodal.exifOrientation(tagged) == o)
      val dTag = java.lang.Long.bitCount(
        master ^ Multimodal.pHash64(tagged).get)
      assert(dTag <= 3, s"id=$id o=$o tagged dist $dTag")
      // strip the 36-byte APP1 (spliced right after SOI): the stored
      // pixels alone are a rotated/mirrored image the plain tier must
      // NOT match — normalization, not codec noise, closes the gap
      val untagged = tagged.take(2) ++ tagged.drop(38)
      assert(Multimodal.exifOrientation(untagged) == 0)
      val dRaw = java.lang.Long.bitCount(
        master ^ Multimodal.pHash64(untagged).get)
      assert(dRaw > 3, s"id=$id o=$o untagged dist $dRaw")
    }
    // non-JPEG, orientation-1, and garbage payloads: parser returns
    // 0/1 and never throws; orientation 1 is the identity
    assert(Multimodal.exifOrientation(Media.syntheticPng(0L)) == 0)
    assert(Multimodal.exifOrientation(Array[Byte](1, 2, 3)) == 0)
    assert(Multimodal.exifOrientation(
      Media.syntheticJpegExif(0L, 1)) == 1)
    assert(Multimodal.pHash64(Media.syntheticJpegExif(5L, 1)) ==
      Multimodal.pHash64(Media.syntheticJpegExif(5L, 1)
        .take(2) ++ Media.syntheticJpegExif(5L, 1).drop(38)),
      "orientation 1 must hash identically to the untagged encode")
  }

  test("onset-landmark index: append == rebuild; cross-family stamps rejected; grid index misses the trim") {
    implicit val s: SparkSession = spark
    val wav = udf((id: Long) =>
      if (id < 20) Media.syntheticWavTones(id, 8000, ms = 1248,
        gateMs = 32, segMs = 96, permMs = 32)
      else Media.syntheticWavTones(id - 20, 44100, ms = 1120,
        offsetMs = 50, gateMs = 32, segMs = 96, permMs = 32))
    def audio(ids: Seq[Long]) = {
      import spark.implicits._
      ids.toDF("doc_id")
        .select(col("doc_id"), wav(col("doc_id")).as("payload"))
    }
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
      val cs = df.columns.sorted
      df.select(cs.head, cs.tail: _*).collect().map(_.toSeq).toSet
    }
    val app = IncrementalIndex.append(
      Multimodal.index(AudioOnset())(audio(Seq(0L, 1L, 2L))),
      Multimodal.index(AudioOnset())(audio(Seq(3L, 4L))))
    assert(rows(app) == rows(
      Multimodal.index(AudioOnset())(audio(Seq(0L, 1L, 2L, 3L, 4L)))))
    // cross-family fail-fast: a SPECTRAL grid index (stamp 1002) can
    // never be screened by the onset path (4001), and vice versa
    val corpus = audio(Seq(0L, 1L, 2L))
    val probes = audio(Seq(20L, 21L))
    val onsetIdx = Multimodal.index(AudioOnset())(corpus)
    val gridIdx = Multimodal.index(AudioSpectralCode)(corpus)
    assertThrows[IllegalArgumentException] {
      Multimodal.screen(AudioOnset())(probes, gridIdx)
    }
    assertThrows[IllegalArgumentException] {
      Multimodal.screen(AudioSpectralCode)(probes, onsetIdx)
    }
    // the grid index structurally misses the 50 ms trim the onset
    // index catches
    val gridScreen = Multimodal.screen(AudioSpectralCode)(probes, gridIdx)
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(gridScreen.forall(_._2),
      s"grid index must keep the trimmed probes: ${gridScreen.toSeq}")
    val onsetScreen = Multimodal.screen(AudioOnset())(probes, onsetIdx).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toMap
    assert(onsetScreen == Map(20L -> 0L, 21L -> 1L), s"$onsetScreen")
  }

  // ---- t79: bounded CDC ---------------------------------------------

  test("cdcChunksBounded honors min/max bounds and re-synchronizes across a splice") {
    implicit val s: SparkSession = spark
    import spark.implicits._
    def text(seed: Long, n: Int): String =
      (0 until n).map(j => s"w${(seed * 131 + j * 17 + seed * j * 7) % 97}")
        .mkString(" ")
    val docs = Seq(
      (0L, text(0, 160)),
      (1L, "spliceheadjunk " + text(0, 160) + " splicetail"),
      (2L, Seq.fill(200)("zzz").mkString(" ")) // degenerate uniform doc
    ).toDF("doc_id", "text")
    val ch = TextDedup.cdcChunksBounded(docs, "doc_id", "text",
      nibbles = 2, minChunk = 6, maxChunk = 24).collect()
    // bounds: every chunk but a doc's LAST is in [minChunk, maxChunk];
    // the last may undershoot but never overshoots
    ch.groupBy(_.doc_id).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_.start)
      sorted.dropRight(1).foreach(c =>
        assert(c.n_tokens >= 6 && c.n_tokens <= 24,
          s"doc $id interior chunk ${c.n_tokens} outside [6,24]"))
      assert(sorted.last.n_tokens <= 24, s"doc $id final chunk too long")
    }
    // re-synchronization: the spliced doc shares interior chunks
    val h0 = ch.filter(_.doc_id == 0L).map(_.ch).toSet
    val h1 = ch.filter(_.doc_id == 1L).map(_.ch).toSet
    assert((h0 & h1).size >= 2,
      s"splice shares ${(h0 & h1).size} chunks, expected >= 2")
    // degenerate doc: uniform window hashes can't blow up chunk sizes
    val degen = ch.filter(_.doc_id == 2L)
    assert(degen.nonEmpty && degen.forall(_.n_tokens <= 24))
  }

  // ---- t80/t81: incremental index contracts -------------------------

  test("winnow and CDC index append == from-scratch rebuild; cross-version screens fail fast") {
    implicit val s: SparkSession = spark
    import spark.implicits._
    def text(seed: Long): String =
      (0 until 40).map(j => s"w${(seed * 131 + j * 17 + seed * j * 7) % 97}")
        .mkString(" ")
    def docs(ids: Seq[Long]) = ids.map(i => (i, text(i))).toDF("doc_id", "text")
    // name-normalized row sets: append's using-column anti-join moves
    // doc_id to the front, so raw column ORDER differs from a rebuild
    // while the named relation is identical (screens select by name)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
      val cs = df.columns.sorted
      df.select(cs.head, cs.tail: _*).collect().map(_.toSeq).toSet
    }

    val wApp = IncrementalIndex.append(
      TextDedup.winnowIndex(docs(Seq(0L, 1L, 2L)), "doc_id", "text"),
      TextDedup.winnowIndex(docs(Seq(3L, 4L)), "doc_id", "text"))
    assert(rows(wApp) == rows(
      TextDedup.winnowIndex(docs(Seq(0L, 1L, 2L, 3L, 4L)), "doc_id", "text")))
    val cApp = IncrementalIndex.append(
      TextDedup.cdcChunkIndex(docs(Seq(0L, 1L, 2L)), "doc_id", "text",
        nibbles = 2),
      TextDedup.cdcChunkIndex(docs(Seq(3L, 4L)), "doc_id", "text",
        nibbles = 2))
    assert(rows(cApp) == rows(
      TextDedup.cdcChunkIndex(docs(Seq(0L, 1L, 2L, 3L, 4L)), "doc_id",
        "text", nibbles = 2)))

    // fail-fast: a stale or unstamped index must throw, not silently
    // match nothing (the audio-index precedent)
    val probes = docs(Seq(10L))
    val wIdx = TextDedup.winnowIndex(docs(Seq(0L)), "doc_id", "text")
    assertThrows[IllegalArgumentException] {
      TextDedup.dedupAgainstWinnowIndex(probes,
        wIdx.withColumn("fp_ver", lit(99)), "doc_id", "text")
    }
    assertThrows[IllegalArgumentException] {
      TextDedup.dedupAgainstWinnowIndex(probes, wIdx.drop("fp_ver"),
        "doc_id", "text")
    }
    val cIdx = TextDedup.cdcChunkIndex(docs(Seq(0L)), "doc_id", "text")
    assertThrows[IllegalArgumentException] {
      TextDedup.dedupAgainstCdcIndex(probes,
        cIdx.withColumn("fp_ver", lit(99)), "doc_id", "text")
    }
    // screens mirror the overlap-pair metrics: an exact re-upload of
    // doc 0 dups to it through both indexes, a fresh doc stays kept
    val ing = docs(Seq(0L)).select(($"doc_id" + 100L).as("doc_id"), $"text")
      .unionAll(docs(Seq(50L)).select(($"doc_id" + 200L).as("doc_id"), $"text"))
    val wIdx3 = TextDedup.winnowIndex(docs(Seq(0L, 1L, 2L)), "doc_id", "text")
    val wv = TextDedup.dedupAgainstWinnowIndex(ing, wIdx3, "doc_id", "text")
      .as[(Long, Boolean, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(wv(100L) == ((false, Some(0L))) && wv(250L) == ((true, None)))
    val cIdx3 = TextDedup.cdcChunkIndex(docs(Seq(0L, 1L, 2L)), "doc_id",
      "text", nibbles = 2)
    val cv = TextDedup.dedupAgainstCdcIndex(ing, cIdx3, "doc_id", "text",
        nibbles = 2)
      .as[(Long, Boolean, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(cv(100L) == ((false, Some(0L))) && cv(250L) == ((true, None)))
  }
}
