package graft.operators

import graft.fixtures.{Catalogue, Corpora, Fixture, Media}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{ImageAffineFrame, ImageAffineFrameAnchored,
  ImageAffineFrameChiral, VideoAffineFrame, VideoAffineFrameAnchored,
  VideoAffineFrameChiral}

/** The verified affine-frame tier by subject ([[ImageAffineFrameAnchored]],
  * [[VideoAffineFrameAnchored]], with the chiral code families
  * [[ImageAffineFrameChiral]] and [[VideoAffineFrameChiral]]): the
  * solved df cap, the count-first candidate pass and both gather paths.
  * The family calls must also reproduce the rows of the per-shape entry
  * points they replaced: each shape runs on a small [[Catalogue]]
  * fixture and its sorted rows hash to the digest that entry point
  * produced on the same fixture. The tier's recall, chirality and
  * repartition tests still live in Round13Spec, Round14Spec and
  * Round16Spec. */
class AffineFrameSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Row count and SHA-256 of the sorted rendered rows. */
  private def digest(df: DataFrame): (Int, String) = {
    val rows = df.collect()
    val text = rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
      .mkString("\n")
    (rows.length, java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  /** Fixture `f` over `ids`, probes at 20 until 20 + `n`. */
  private def media(f: Fixture, n: Long, ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toDF("id").select(col("id").as("doc_id"),
      f.udf(20, n)(col("id")).as("payload"))
  }

  /** The code and verified tiers over ONE anchored decode: the code
    * family scores the table's (doc_id, lm) projection. */
  private def tiers(code: Multimodal.Paired, verified: Multimodal.Paired,
      media: DataFrame, maxDf: Int): (DataFrame, DataFrame) = {
    val anchored = Materialize.eager(verified.landmarks(media))
    (code.scores(anchored.select(col("doc_id"), col("lm")), maxDf = maxDf),
      verified.scores(anchored, maxDf = maxDf))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** Digests the replaced per-shape entry points produced on the
    * fixtures below, at maxDf 64 (the image tier pair's corpus at 500):
    * the m179, m181, m183, m182, m187 and m188 pair shapes, the m180
    * verified screen, and both members of the former one-decode
    * (code, verified) tier pairs for image and video. */
  private val pinned = Map(
    "m179" -> (4, "ba05cb8537a45a7f933d5e941d5b21e731495e2bef63f743b60177eb694fcd9c"),
    "m181" -> (4, "a7ab5b6802f1f538392d4f5b95ec4d268e64cd09acd55bf0eddf3ce662c661ee"),
    "m183" -> (4, "3159d6e23809a7b5e122237543c0119c59aa6c6845f2f7fb245f5badad1e987a"),
    "m180" -> (5, "eb6313d9450e23e6dfccde64103c4d1f397d7b777b9f88da78f102d49d3180ee"),
    "imageTiers.code" -> (5, "e6891f45d1949afa8c4cf5064ce915a034b5011f7ab3cf5aacb0fbe2b7ee5270"),
    "imageTiers.verified" -> (5, "f52c296ef206e3020c9ca18cfa71e08e6549b7595462c9926c68824dd80a514a"),
    "m182" -> (5, "d6d9d1b10fe9dde02c91e32407d574a1988eec20a643063ce1e0e05350492344"),
    "m187" -> (3, "903de37f53fe9992f5671bbb452bd9374443431980ca104e420e9bb292a915e2"),
    "m188" -> (4, "f5b96f33a32cf8bd7c02db0ae09c3013ee7f250071341b276b3acc777f6ee238"),
    "videoTiers.code" -> (3, "a299a195c37ca76a77959540a48ef6b2e6b5aaf34dc11eeb33ac75506ffaf690"),
    "videoTiers.verified" -> (5, "d6d9d1b10fe9dde02c91e32407d574a1988eec20a643063ce1e0e05350492344"))

  private def assertPinned(got: Map[String, (Int, String)]): Unit = {
    val wrong = got.collect { case (k, v) if !pinned.get(k).contains(v) =>
      s"$k: ${v._1} rows, digest ${v._2}" }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("image family calls reproduce the replaced entry points' digests") {
    implicit val s: SparkSession = spark
    val verified = media(Catalogue.affineFrameVerified, 4,
      0, 1, 3, 6, 20, 21, 22, 23, 140)
    val chiral = media(Catalogue.affineFrameChiral, 4,
      0, 1, 2, 3, 20, 21, 22, 23, 140)
    val chiralVerified = media(Catalogue.affineFrameChiralVerified, 4,
      0, 1, 3, 6, 20, 21, 22, 23, 140)
    val corpus = media(Catalogue.affineFrameVerified, 3, 0, 1, 3, 6)
    val probes = media(Catalogue.affineFrameVerified, 3, 20, 21, 22, 130, 131)
    val (code, ver) = tiers(ImageAffineFrame(), ImageAffineFrameAnchored(),
      Corpora.cropAffinePngs(s, 50), 500)
    assertPinned(Map(
      "m179" -> digest(Multimodal.pairs(ImageAffineFrameAnchored())(verified,
        maxDf = 64)),
      "m181" -> digest(Multimodal.pairs(ImageAffineFrameChiral())(chiral,
        maxDf = 64)),
      "m183" -> digest(Multimodal.pairs(ImageAffineFrameAnchored(
        chiral = true))(chiralVerified, maxDf = 64)),
      "m180" -> digest(Multimodal.screen(ImageAffineFrameAnchored())(probes,
        Multimodal.index(ImageAffineFrameAnchored())(corpus))),
      "imageTiers.code" -> digest(code),
      "imageTiers.verified" -> digest(ver)))
  }

  test("video family calls reproduce the replaced entry points' digests") {
    implicit val s: SparkSession = spark
    val verified = media(Catalogue.videoAffineFrameVerified, 4,
      0, 1, 2, 20, 21, 22, 23, 140)
    val chiral = media(Catalogue.videoAffineFrameChiral, 3,
      0, 1, 2, 20, 21, 22, 140)
    val chiralVerified = media(Catalogue.videoAffineFrameChiralVerified, 4,
      0, 1, 2, 3, 20, 21, 22, 23, 140)
    val (code, ver) = tiers(VideoAffineFrame(), VideoAffineFrameAnchored(),
      verified, 64)
    assertPinned(Map(
      "m182" -> digest(Multimodal.pairs(VideoAffineFrameAnchored())(verified,
        maxDf = 64)),
      "m187" -> digest(Multimodal.pairs(VideoAffineFrameChiral())(chiral,
        maxDf = 64)),
      "m188" -> digest(Multimodal.pairs(VideoAffineFrameAnchored(
        chiral = true))(chiralVerified, maxDf = 64)),
      "videoTiers.code" -> digest(code),
      "videoTiers.verified" -> digest(ver)))
  }

  test("the verified screen rejects a chiral family value") {
    implicit val s: SparkSession = spark
    val noMedia = media(Catalogue.affineFrameVerified, 0)
    val e = intercept[IllegalArgumentException](
      Multimodal.screen(ImageAffineFrameAnchored(chiral = true))(noMedia,
        noMedia))
    assert(e.getMessage.contains("chiral"))
  }

  test("verified tier: AutoDf solves at w16 (not 32) — halved rows buy the cap back") {
    val s = spark
    import s.implicits._
    // synthetic df spectrum with interior structure: 20 codes at df 2,
    // 6 at df 4, 2 at df 8. w16 costs: cap2 = 640 B, cap4 = 1408 B,
    // cap8 = 2432 B; at w32 the same budget affords strictly less.
    val rows = (0 until 20).flatMap(c => (0 until 2).map(d =>
        ((c * 2 + d).toLong, s"a$c"))) ++
      (0 until 6).flatMap(c => (0 until 4).map(d =>
        ((c * 4 + d).toLong, s"b$c"))) ++
      (0 until 2).flatMap(c => (0 until 8).map(d =>
        ((c * 8 + d).toLong, s"c$c")))
    val lms = rows.toDF("doc_id", "lm")
    // budget 1500 B: w16 solves the interior cap 4 (1408 <= 1500 <
    // 2432); the old w32 solve affords only cap 2 (1280 <= 1500 < 2816)
    assert(Multimodal.solveDfCap(lms, 16, 1500L) == 4)
    assert(Multimodal.solveDfCap(lms, 32, 1500L) == 2)
  }

  test("verified tier: AutoDf reproduces the explicit-cap result") {
    val s = spark
    implicit val sp: SparkSession = s
    // the m185/m186 fixture class at toy size: 50 docs, every 10th a
    // planted crop x rotation x squeeze re-upload of doc_id-9
    val media = graft.fixtures.Corpora.cropAffinePngs(s, 50)
    val anchored = Materialize.eager(
      Multimodal.ImageAffineFrameAnchored().landmarks(media))
    val lms = anchored.select(col("doc_id"), col("lm"))
    // 3/4 of the uncapped explode binds (this toy class's df mass sits
    // almost entirely at df 2, so the solved cap may be the floor —
    // the equivalence claim is what this test pins, not interiority)
    val uncappedBytes = lms.groupBy(col("lm"))
      .agg(count(lit(1)).as("df")).filter(col("df") >= 2)
      .agg(sum(col("df") * col("df")) / 2 * 16).collect()(0)
      .getDouble(0).toLong
    val budget = uncappedBytes * 3 / 4
    val capW16 = Multimodal.solveDfCap(lms, 16, budget)
    assert(capW16 >= 2)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_a", "doc_b").collect().toSeq
    val explicit = sorted(
      ImageAffineFrameAnchored().scores(anchored, maxDf = capW16))
    val wasBudget = s.conf.getOption(Multimodal.PairBudgetConf)
    try {
      s.conf.set(Multimodal.PairBudgetConf, budget.toString)
      val auto = sorted(ImageAffineFrameAnchored().scores(anchored,
        maxDf = Multimodal.AutoDf))
      assert(auto == explicit,
        "AutoDf must reproduce the explicit w16-solved cap's result")
      assert(auto.nonEmpty, "non-vacuous: the planted dups must land")
    } finally {
      wasBudget match {
        case Some(v) => s.conf.set(Multimodal.PairBudgetConf, v)
        case None => s.conf.unset(Multimodal.PairBudgetConf)
      }
    }
  }

  test("chiral verified tier: AutoDf solves its cap instead of the backstop") {
    val s = spark
    implicit val sp: SparkSession = s
    val media = graft.fixtures.Corpora.cropAffinePngs(s, 50)
    val anchored = Materialize.eager(
      Multimodal.ImageAffineFrameAnchored().landmarks(media))
    // the chiral tier caps over distinct (doc, lm) of its identity +
    // mirror fan, so the explicit cap is solved on that basis
    val mir = udf((lm: Long) => Multimodal.mirrorAffineFrameCode(lm))
    val fan = anchored.select(col("doc_id"), col("lm"))
      .unionByName(anchored.select(col("doc_id"), mir(col("lm")).as("lm")))
      .distinct()
    val dfs = fan.groupBy(col("lm")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    val maxObserved = dfs.agg(max(col("df"))).collect()(0).getLong(0)
    val uncappedBytes = dfs.agg(sum(col("df") * col("df")) / 2 * 16)
      .collect()(0).getDouble(0).toLong
    val budget = uncappedBytes * 3 / 4
    val capW16 = Multimodal.solveDfCap(fan, 16, budget)
    assert(capW16 >= 2 && capW16 < maxObserved,
      s"the solved cap $capW16 must drop codes (max df $maxObserved)")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_a", "doc_b", "orient").collect().toSeq
    val explicit = sorted(Multimodal.pairs(ImageAffineFrameAnchored(
      chiral = true))(media, maxDf = capW16))
    val wasBudget = s.conf.getOption(Multimodal.PairBudgetConf)
    try {
      s.conf.set(Multimodal.PairBudgetConf, budget.toString)
      val dropped = Multimodal.hotCodesDropped(s)
      val before = dropped.value
      val auto = sorted(Multimodal.pairs(ImageAffineFrameAnchored(
        chiral = true))(media, maxDf = Multimodal.AutoDf))
      assert(auto == explicit,
        "AutoDf must reproduce the explicit fan-solved cap's result")
      assert(dropped.value > before,
        "a solved cap reports the codes it drops")
    } finally {
      wasBudget match {
        case Some(v) => s.conf.set(Multimodal.PairBudgetConf, v)
        case None => s.conf.unset(Multimodal.PairBudgetConf)
      }
    }
  }

  test("count-first == former single-pass aggregation on a hot-code fixture") {
    val s = spark
    import s.implicits._
    implicit val sp: SparkSession = s
    // adversarial shape for the gather pass: one code shared by MANY
    // docs (a hot posting) + per-pair private codes, so the survivor
    // semi-join must route exactly the right correspondences to each
    // surviving pair. Anchored rows are distinct (doc, lm).
    val rows =
      // hot code 1000 on docs 0..9 at distinct anchors
      (0 until 10).map(d => (d.toLong, 1000L, 10 + d, 20 + d)) ++
      // docs 0 and 1 share 8 more codes at AFFINE-consistent anchors
      // (identity map): the surviving pair
      (0 until 8).flatMap(i => Seq(
        (0L, 2000L + i, 30 + 7 * i, 40 + 5 * i),
        (1L, 2000L + i, 30 + 7 * i, 40 + 5 * i))) ++
      // docs 2 and 3 share 2 private codes + the hot one = 3 shared,
      // killed by candMinShared=4
      (0 until 2).flatMap(i => Seq(
        (2L, 3000L + i, 50 + 9 * i, 60 + 3 * i),
        (3L, 3000L + i, 50 + 9 * i, 60 + 3 * i)))
    val lms = rows.toDF("doc_id", "lm", "ax", "ay")
    val out = ImageAffineFrameAnchored(verifyMinAligned = 3,
        verifyMinFrac = 0.5).scores(lms, minShared = 4)
      .orderBy("doc_a", "doc_b").collect().toSeq
    // only (0,1) survives the shared gate AND verifies (identity map
    // aligns every anchor); (2,3) dies at the count gate; hot-code
    // pairs share just the one code
    assert(out.map(r => (r.getLong(0), r.getLong(1))) == Seq((0L, 1L)))
    assert(out.head.getDouble(2) >= 0.5)
  }

  test("verified tier: survivor-filtered gather == unconditional re-explode") {
    implicit val s: SparkSession = spark
    val media = graft.fixtures.Corpora.cropAffinePngs(spark, 60)
    // pairs(ImageAffineFrameAnchored())(media, maxDf = 500) at a
    // forced gather bound
    val f = ImageAffineFrameAnchored()
    def run(gather: Long): Seq[Seq[Any]] = Materialize.scoped {
      rows(Multimodal.verifiedPairs(f, Materialize.eager(f.landmarks(media)),
        f.minMatch, f.minShared, 500, gather))
    }
    val filtered = run(Long.MaxValue)
    val full = run(0L)
    assert(filtered.nonEmpty, "fixture produced no verified pairs")
    assert(filtered == full)
  }

  test("chiral verified tier: survivor-filtered gather == unconditional re-explode") {
    implicit val s: SparkSession = spark
    // small blob corpus with two mirrored re-uploads (the m181
    // fixture shape): exercises the orient-carrying pair key through
    // both gather paths
    val mk = udf((id: Long) => {
      def blobs(seed: Long): Array[Byte] =
        Media.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
      if (id >= 20L) Media.pngDihedral(blobs(id - 20L), 4)
      else blobs(id)
    })
    val media = spark.range(0, 8).union(spark.range(20, 22))
      .select(col("id").as("doc_id"), mk(col("id")).as("payload"))
    // pairs(ImageAffineFrameAnchored(chiral = true))(media, maxDf = 64)
    // at a forced gather bound
    val f = ImageAffineFrameAnchored(chiral = true)
    def run(gather: Long): Seq[Seq[Any]] = Materialize.scoped {
      rows(Multimodal.verifiedPairs(f, Materialize.eager(f.landmarks(media)),
        f.minMatch, f.minShared, 64, gather))
    }
    val filtered = run(Long.MaxValue)
    val full = run(0L)
    assert(filtered == full)
  }
}
