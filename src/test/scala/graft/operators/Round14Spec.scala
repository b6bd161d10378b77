package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{ImageAffineFrame, ImageAffineFrameSqueezeFan,
  ImagePeak, VideoAffineFrame, VideoAffineFrameSqueezeFan}

/** Round-14: the hot-code posting backstop, the verified affine-frame
  * tier's video/chiral members, the de-squeeze hypothesis fan, and
  * full public-suffix-list semantics. */
class Round14Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("auto posting cap drops a planted hot code, logs the count, keeps benign pairs") {
    val s = spark
    import s.implicits._
    implicit val sp: SparkSession = s
    // 10 byte-identical copies of image X: every X code's df = 10.
    // 2 copies of image Y: every Y code's df = 2 (the benign dup).
    // With the auto cap lowered under 10, ALL X codes are hot ->
    // dropped; without the cap the scorer would explode 45 X pairs.
    val media = s.range(0, 12).map { id =>
      val payload =
        if (id < 10) Multimodal.syntheticPng(0L)
        else Multimodal.syntheticPng(999L)
      (id, payload)
    }.toDF("doc_id", "payload")
    val acc = Multimodal.hotCodesDropped(s)
    val before = acc.value
    // maxDf = 0 -> the AUTO cap path (the previously unguarded seam),
    // lowered to 8 through the scorer's private[graft] autoCap
    val lms = Materialize.eager(ImagePeak().landmarks(media))
    val pairs = Multimodal.peakLandmarkPairScores(lms, 0.6, 0, autoCap = 8)
      .orderBy("doc_a", "doc_b").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((10L, 11L)),
      s"expected only the benign pair, got ${pairs.mkString(", ")}")
    assert(acc.value > before, "dropped hot codes must be counted")
    // an EXPLICIT maxDf above the plant keeps the hot code: the
    // auto cap must never override a caller's deliberate choice
    val uncapped = Multimodal.pairs(ImagePeak())(media, minMatch = 0.6,
      maxDf = 64).count()
    assert(uncapped == 45 + 1, s"explicit maxDf=64 must keep all " +
      s"pairs (45 hot + 1 benign), got $uncapped")
  }

  /** m182 media: 6 video masters, two MEASURED gray-zone crop x
    * affine compounds (under the m177 code gate), two m177-class
    * compounds (one leading-trimmed), two fresh decoys. */
  private def m182Media(s: SparkSession): org.apache.spark.sql.DataFrame = {
    val img = udf((id: Long) => {
      def master(src: Long): Array[Byte] =
        Multimodal.syntheticAviBlobs(src, 6, 192, 192, 18, 22.0)
      def probe(src: Long, m: Int, deg: Double, ow: Int,
          from: Int): Array[Byte] =
        Multimodal.aviCropResizeDib(Multimodal.aviRotateResizeDib(
          Multimodal.aviCropResizeDib(master(src), m, m, 192 - m,
            192 - m, 192, 192), deg), 0, 0, 192, 192, ow, 192, from)
      if (id == 20L) probe(0, 36, 17.0, 148, 0)
      else if (id == 21L) probe(2, 36, 9.0, 148, 0)
      else if (id == 22L) probe(0, 24, -23.0, 148, 0)
      else if (id == 23L) probe(1, 24, 17.0, 137, 2)
      else master(id)
    })
    s.range(0, 6).union(s.range(20, 24)).union(s.range(140, 142))
      .select(col("id").as("doc_id"), img(col("id")).as("payload"))
  }

  test("m182: RANSAC verify lands the gray-zone video compounds the m177 code gate drops") {
    val s = spark
    implicit val sp: SparkSession = s
    val media = m182Media(s).cache()
    try {
      // the scope contrast: the code gate (m177 defaults) misses both
      // gray-zone compounds but lands the m177-class ones
      val code = Multimodal.pairs(VideoAffineFrame())(media, maxDf = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!code((0L, 20L)) && !code((2L, 21L)),
        s"gray-zone compounds must be UNDER the code gate, got $code")
      assert(code((0L, 22L)) && code((1L, 23L)),
        s"m177-class compounds must land the code gate, got $code")
      // the verified tier lands all four; decoys stay out
      val ver = Multimodal.videoAffineFramePairsVerified(media, maxDf = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      for (k <- Seq((0L, 20L), (2L, 21L), (0L, 22L), (1L, 23L)))
        assert(ver.getOrElse(k, 0.0) >= 0.4,
          s"$k must verify >= 0.4, got ${ver.get(k)} (all: $ver)")
      assert(!ver.keys.exists(k => k._1 >= 140L || k._2 >= 140L),
        s"fresh decoys must not verify, got $ver")
    } finally media.unpersist()
  }

  /** m183 media: 8 blob masters, MIRRORED crop x affine probes — two
    * gray-zone compounds (the m179 fixtures, mirrored: the mirror
    * readout is pure code arithmetic so they score the same
    * just-under-gate fractions) and two m174-class ones — plus two
    * fresh decoys. */
  private def m183Media(s: SparkSession): org.apache.spark.sql.DataFrame = {
    val img = udf((id: Long) => {
      def blobs(seed: Long): Array[Byte] =
        Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
      def probe(src: Long, c0: Int, c1: Int, deg: Double,
          outW: Int): Array[Byte] =
        Multimodal.pngDihedral(
          Multimodal.pngCropResize(Multimodal.pngRotateResize(
            Multimodal.pngCropResize(blobs(src), c0, c0, c1, c1,
              256, 256), deg), 0, 0, 256, 256, outW, 256), 4)
      if (id == 20L) probe(3, 38, 218, -23.0, 197)      // gray-zone
      else if (id == 21L) probe(6, 44, 212, 17.0, 183)  // gray-zone
      else if (id == 22L) probe(0, 32, 224, 17.0, 183)  // m174-class
      else if (id == 23L) probe(1, 40, 216, 33.0, 169)  // m174-class
      else blobs(id)
    })
    s.range(0, 8).union(s.range(20, 24)).union(s.range(140, 142))
      .select(col("id").as("doc_id"), img(col("id")).as("payload"))
  }

  test("m183: chirality-matched verify lands mirrored gray-zone compounds; m179 and m181 alone do not") {
    val s = spark
    implicit val sp: SparkSession = s
    val media = m183Media(s).cache()
    try {
      // contrast 1: the identity verified tier (m179) is chirality-
      // fixed BY DESIGN — zero pairs against mirrored probes
      val m179 = Multimodal.imageAffineFramePairsVerified(media, maxDf = 64).collect()
      assert(m179.isEmpty,
        s"m179 must be blind to mirrored renderings, got ${m179.mkString(", ")}")
      // contrast 2: the chiral CODE gate (m181) drops the gray-zone
      // compounds (same just-under-gate scores as their unmirrored
      // m179 twins) but lands the m174-class ones
      val code = Multimodal.imageAffineFramePairsChiral(media, maxDf = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!code((3L, 20L)) && !code((6L, 21L)),
        s"gray-zone mirrored compounds must be under the m181 gate, got $code")
      assert(code((0L, 22L)) && code((1L, 23L)),
        s"m174-class mirrored compounds must land the m181 gate, got $code")
      // m183: all four verify at orient 1 with det < 0 maps
      val ver = Multimodal.imageAffineFramePairsChiralVerified(media,
        maxDf = 64)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getDouble(3))
        .toMap
      for (k <- Seq((3L, 20L, 1), (6L, 21L, 1), (0L, 22L, 1), (1L, 23L, 1)))
        assert(ver.getOrElse(k, 0.0) >= 0.5,
          s"$k must verify >= 0.5, got ${ver.get(k)} (all: $ver)")
      assert(!ver.keys.exists(k => k._1 >= 140L || k._2 >= 140L),
        s"fresh decoys must not verify, got $ver")
      // no mirrored probe verifies through the det>0 path: the
      // chirality constraint is doing the admitting, not slack
      assert(!ver.keys.exists(k => k._3 == 0 && k._2 >= 20L && k._2 <= 23L),
        s"mirrored probes must land via orient 1 only, got $ver")
    } finally media.unpersist()
  }

  test("m184: de-squeeze fan lands the 3.0-4.0:1 compounds the base tier drops; base holds at 2:1") {
    val s = spark
    implicit val sp: SparkSession = s
    val img = udf((id: Long) => {
      def blobs(seed: Long): Array[Byte] =
        Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
      def probe(src: Long, deg: Double, sq: Double, ax: Int): Array[Byte] = {
        val rot = Multimodal.pngRotateResize(Multimodal.pngCropResize(
          blobs(src), 32, 32, 224, 224, 256, 256), deg)
        if (ax == 0)
          Multimodal.pngCropResize(rot, 0, 0, 256, 256,
            math.round(256 / sq).toInt, 256)
        else
          Multimodal.pngCropResize(rot, 0, 0, 256, 256, 256,
            math.round(256 / sq).toInt)
      }
      if (id == 20L) probe(0, -23.0, 3.0, 0)
      else if (id == 21L) probe(0, 17.0, 3.5, 0)
      else if (id == 22L) probe(5, -23.0, 3.5, 1)
      else if (id == 23L) probe(3, -23.0, 4.0, 1)
      else if (id == 24L) probe(4, -23.0, 2.0, 0) // boundary witness
      else blobs(id)
    })
    val media = s.range(0, 6).union(s.range(20, 25))
      .union(s.range(140, 142))
      .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      .cache()
    try {
      val planted = Seq((0L, 20L), (0L, 21L), (5L, 22L), (3L, 23L))
      // the measured scope contrast: the base tier drops all four
      // extreme compounds but HOLDS at 2:1 (the revised boundary —
      // the old ~1.5:1 declared limit does not bind on this class)
      val base = Multimodal.pairs(ImageAffineFrame())(media, maxDf = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      planted.foreach(k => assert(!base(k),
        s"$k must be UNDER the base m174 gate, got $base"))
      assert(base((4L, 24L)),
        s"the 2:1 compound must LAND the base gate (revised boundary), got $base")
      // the fan lands all four extreme compounds; no cross-source pair
      val fan = Multimodal.pairs(ImageAffineFrameSqueezeFan())(media,
        maxDf = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      planted.foreach(k => assert(fan(k),
        s"$k must land the de-squeeze fan, got $fan"))
      def srcOf(id: Long): Long = id match {
        case 20L | 21L => 0L; case 22L => 5L; case 23L => 3L; case 24L => 4L
        case x => x
      }
      assert(!fan.exists(k => srcOf(k._1) != srcOf(k._2)),
        s"no unrelated pair may land the fan gate, got $fan")
    } finally media.unpersist()
  }

  test("m187/m188: mirrored video compounds — identity tiers blind, chiral code gate lands the clear class, chirality-matched verify lands the gray zone") {
    val s = spark
    implicit val sp: SparkSession = s
    val img = udf((id: Long) => {
      def master(src: Long): Array[Byte] =
        Multimodal.syntheticAviBlobs(src, 6, 192, 192, 18, 22.0)
      def probe(src: Long, m: Int, deg: Double, ow: Int,
          from: Int): Array[Byte] =
        Multimodal.aviDihedralDib(
          Multimodal.aviCropResizeDib(Multimodal.aviRotateResizeDib(
            Multimodal.aviCropResizeDib(master(src), m, m, 192 - m,
              192 - m, 192, 192), deg), 0, 0, 192, 192, ow, 192,
            from), 4)
      if (id == 20L) probe(0, 36, 17.0, 148, 0)       // gray-zone
      else if (id == 21L) probe(2, 36, 9.0, 148, 0)   // gray-zone
      else if (id == 22L) probe(3, 24, -23.0, 148, 0) // m177-class
      else if (id == 23L) probe(1, 24, 17.0, 137, 2)  // trimmed
      else master(id)
    })
    val media = s.range(0, 6).union(s.range(20, 24))
      .union(s.range(140, 142))
      .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      .cache()
    try {
      // the identity tiers are chirality-FIXED by design: zero rows
      // on an all-mirrored probe batch (code gate AND verified)
      val idPairs = Multimodal.pairs(VideoAffineFrame())(media, maxDf = 64)
        .collect().toSeq
      assert(idPairs.isEmpty,
        s"m177 must be blind to mirrored re-rips, got $idPairs")
      assert(Multimodal.videoAffineFramePairsVerified(media, maxDf = 64)
        .count() == 0, "m182 must be blind to mirrored re-rips")
      // the chiral CODE gate lands the m177-class compounds at
      // orient 1 and inherits the gray-zone drops
      val code = Multimodal.videoAffineFramePairsChiral(media, maxDf = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(code((3L, 22L, 1)) && code((1L, 23L, 1)),
        s"chiral code gate must land the m177-class compounds, got $code")
      assert(!code.exists(p => p._2 == 20L || p._2 == 21L),
        s"gray-zone compounds must stay UNDER the chiral code gate, got $code")
      // the chirality-matched verify lands all four, nothing else
      val ver = Multimodal.videoAffineFramePairsChiralVerified(media,
        maxDf = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      val want = Set((0L, 20L, 1), (2L, 21L, 1), (3L, 22L, 1),
        (1L, 23L, 1))
      assert(ver == want,
        s"chiral verify must land exactly the planted compounds, got $ver")
    } finally media.unpersist()
  }

  test("m191: video de-squeeze fan lands extreme compounds the base tier drops; 192px class measured out") {
    val s = spark
    implicit val sp: SparkSession = s
    val img = udf((id: Long) => {
      def master(src: Long): Array[Byte] =
        Multimodal.syntheticAviBlobs(src, 6, 256, 256, 24, 22.0)
      def probe(src: Long, deg: Double, sq: Double, ax: Int,
          from: Int): Array[Byte] = {
        val rot = Multimodal.aviRotateResizeDib(
          Multimodal.aviCropResizeDib(master(src), 32, 32, 224, 224,
            256, 256), deg)
        if (ax == 0) Multimodal.aviCropResizeDib(rot, 0, 0, 256, 256,
          math.round(256 / sq).toInt, 256, from)
        else Multimodal.aviCropResizeDib(rot, 0, 0, 256, 256, 256,
          math.round(256 / sq).toInt, from)
      }
      if (id == 20L) probe(0, -23.0, 3.0, 0, 0)
      else if (id == 21L) probe(1, 17.0, 3.5, 0, 0)
      else if (id == 23L) probe(3, 17.0, 3.0, 1, 2) // trimmed
      else master(id)
    })
    val media = s.range(0, 4).union(s.range(20, 22)).union(s.range(23, 24))
      .union(s.range(140, 142))
      .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      .cache()
    try {
      // the base tier drops all three extreme compounds
      val base = Multimodal.pairs(VideoAffineFrame())(media, maxDf = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for (k <- Seq((0L, 20L), (1L, 21L), (3L, 23L)))
        assert(!base(k), s"$k must be UNDER the base m177 gate, got $base")
      // the fan lands them; no cross-source pair
      val fan = Multimodal.pairs(VideoAffineFrameSqueezeFan())(media,
        maxDf = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for (k <- Seq((0L, 20L), (1L, 21L), (3L, 23L)))
        assert(fan(k), s"$k must land the video de-squeeze fan, got $fan")
      def srcOf(id: Long): Long = id match {
        case 20L => 0L; case 21L => 1L; case 23L => 3L; case x => x
      }
      assert(!fan.exists(k => srcOf(k._1) != srcOf(k._2)),
        s"no unrelated pair may land the fan gate, got $fan")
    } finally media.unpersist()
  }

  test("t88: full PSL semantics — wildcard, exception precedence, bare suffix, deep rules") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "http://shop.site3.ck/x"),     // *.ck wildcard: ps = site3.ck
      (1L, "http://a.www.ck/x"),          // !www.ck beats *.ck
      (2L, "http://www.ck/x"),            // exception host itself
      (3L, "http://site9.ck/x"),          // bare wildcard ps: host IS ps
      (4L, "http://x.pref.aichi.jp/x"),   // 3-label plain rule
      (5L, "http://b.city.kobe.jp/x"),    // !city.kobe.jp under *.kobe.jp
      (6L, "http://deep.blog.kobe.jp/x"), // *.kobe.jp: ps = blog.kobe.jp
      (7L, "http://news.site1.co.uk/x"),  // plain 2-label, both forms agree
      (8L, "http://plain.example.com/x")  // implicit * rule
    ).toDF("doc_id", "url")
    // rule-KIND semantics over the curated rule set (it has the
    // demonstration rule pref.aichi.jp the published file lacks)
    val out = TextAnalysis.urlDomainCapPslFull(s, docs, "doc_id", "url",
        cap = 3, ruleSet = TextAnalysis.publicSuffixRules)
      .orderBy($"doc_id")
      .select($"doc_id", $"domain", $"domain_sub")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expect = Seq(
      (0L, "shop.site3.ck", "site3.ck"),
      (1L, "www.ck", "www.ck"),
      (2L, "www.ck", "www.ck"),
      (3L, "site9.ck", "site9.ck"),
      (4L, "x.pref.aichi.jp", "aichi.jp"),
      (5L, "city.kobe.jp", "kobe.jp"),
      (6L, "deep.blog.kobe.jp", "kobe.jp"),
      (7L, "site1.co.uk", "site1.co.uk"),
      (8L, "example.com", "example.com"))
    assert(out.toSeq == expect,
      s"full-PSL domains diverged:\n got ${out.mkString("\n ")}")
    // the subset PROVABLY mis-groups where the full form separates:
    // docs 5 and 6 share domain_sub (kobe.jp) but not domain
    assert(out(5)._3 == out(6)._3 && out(5)._2 != out(6)._2)
  }

  test("t88: the SHIPPED published PSL file — size, rule kinds, real-world rules") {
    val s = spark
    import s.implicits._
    val rules = TextAnalysis.publishedSuffixRules
    // the real file: ~9.5k rules, all three kinds, no comment residue
    assert(rules.size > 9000, s"published PSL too small: ${rules.size}")
    assert(rules.forall(r => r.nonEmpty && !r.startsWith("//")))
    assert(rules.contains("*.ck") && rules.contains("!www.ck"))
    assert(rules.contains("co.uk") && rules.contains("github.io"))
    assert(TextAnalysis.suffixMaxTail(rules) == 5)
    // real-world rules the curated subset LACKS, resolved correctly
    // by default (published) rules: github.io separates site owners
    // (the subset collapses them into one github.io mega-domain), and
    // the real jp geographic rules register x.pref.aichi.jp AT
    // pref.aichi.jp (no pref.aichi.jp rule exists in the real file —
    // aichi.jp is the longest match)
    val docs = Seq(
      (0L, "http://alice.github.io/x"),
      (1L, "http://bob.github.io/x"),
      (2L, "http://x.pref.aichi.jp/x"),
      (3L, "http://handa.aichi.jp/x")  // a real city rule, bare suffix
    ).toDF("doc_id", "url")
    val out = TextAnalysis.urlDomainCapPslFull(s, docs, "doc_id", "url",
        cap = 3)
      .orderBy($"doc_id")
      .select($"doc_id", $"domain", $"domain_sub")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq(
      (0L, "alice.github.io", "github.io"),
      (1L, "bob.github.io", "github.io"),
      (2L, "pref.aichi.jp", "aichi.jp"),
      (3L, "handa.aichi.jp", "aichi.jp")),
      s"published-PSL domains diverged:\n got ${out.mkString("\n ")}")
  }
}
