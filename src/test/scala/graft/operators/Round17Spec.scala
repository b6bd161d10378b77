package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-17: count-first/gather-later candidate shape for the
  * verified affine-frame tiers — pass 1 aggregates pair counts only
  * (fixed-width state), pass 2 gathers anchor correspondences for
  * surviving pairs via semi-join, so aggregation state is
  * corpus-independent at a fixed byte budget and AutoDf solves the
  * verified tier at width 16 (the candidate shuffle's actual row
  * width) instead of 32. */
class Round17Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

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
    val media = graft.tools.ScaleCheck.cropAffinePngs(s, 50)
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
      Multimodal.affineFramePairsVerifiedFrom(anchored, maxDf = capW16))
    val wasBudget = s.conf.getOption(Multimodal.PairBudgetConf)
    try {
      s.conf.set(Multimodal.PairBudgetConf, budget.toString)
      val auto = sorted(Multimodal.affineFramePairsVerifiedFrom(anchored,
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
    val media = graft.tools.ScaleCheck.cropAffinePngs(s, 50)
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
    val explicit = sorted(Multimodal.imageAffineFramePairsChiralVerified(media,
      maxDf = capW16))
    val wasBudget = s.conf.getOption(Multimodal.PairBudgetConf)
    try {
      s.conf.set(Multimodal.PairBudgetConf, budget.toString)
      val dropped = Multimodal.hotCodesDropped(s)
      val before = dropped.value
      val auto = sorted(Multimodal.imageAffineFramePairsChiralVerified(media,
        maxDf = Multimodal.AutoDf))
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

  test("nPts=4 experimental codes: default-invariant, 48-bit, fewer per doc") {
    // the round-17 selectivity experiment's plumbing: nPts=3 must be
    // byte-identical to the pre-parameter extractor (same call, same
    // codes), and nPts=4 must emit valid 48-bit quads
    val cells = Seq((10, 10, 90), (22, 11, 80), (13, 25, 70),
      (30, 30, 60), (8, 31, 50), (27, 22, 40), (17, 5, 30), (3, 18, 20))
    val tri = Multimodal.affineFrameCodesAnchored(cells, 8, 8, 4, 0.3).toSeq
    val triDefault =
      Multimodal.affineFrameCodesAnchored(cells, 8, 8, 4, 0.3, 3).toSeq
    assert(tri == triDefault, "nPts=3 must be the default path, unchanged")
    assert(tri.nonEmpty)
    assert(tri.forall { case (c, _, _) => c >= 0 && c < (1L << 36) },
      "triples pack in 36 bits")
    val quad =
      Multimodal.affineFrameCodesAnchored(cells, 8, 8, 4, 0.3, 4).toSeq
    assert(quad.nonEmpty)
    assert(quad.forall { case (c, _, _) => c >= 0 && c < (1L << 48) },
      "quads pack in 48 bits")
    assert(quad.size < tri.size,
      "C(m,4) < C(m,3) for m <= 6 co-peaks per basis")
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
    val out = Multimodal.affineFramePairsVerifiedFrom(lms,
        candMinShared = 4, verifyMinAligned = 3, verifyMinFrac = 0.5)
      .orderBy("doc_a", "doc_b").collect().toSeq
    // only (0,1) survives the shared gate AND verifies (identity map
    // aligns every anchor); (2,3) dies at the count gate; hot-code
    // pairs share just the one code
    assert(out.map(r => (r.getLong(0), r.getLong(1))) == Seq((0L, 1L)))
    assert(out.head.getDouble(2) >= 0.5)
  }
}
