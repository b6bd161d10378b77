package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{ImageAffine, ImageAffineFrame,
  ImageAffineFrameAnchored, ImageAffineFrameChiral, ImageScale}

/** Round-13: public-suffix-table registered domains (the data-driven
  * form the round-12 verdict asked for) and friends. */
class Round13Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("urlDomainCapPsl registers one level below a multi-label public suffix; heuristic mis-groups") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "http://news.alpha.co.uk/a"),
      (2L, "http://Blog.Beta.CO.UK/b"),      // case noise on a PSL host
      (3L, "http://deep.sub.gamma.co.uk/c"), // >3 labels: still 3-label registration
      (4L, "http://delta.co.jp/d"),          // registrant directly under suffix
      (5L, "http://www.epsilon.com/e"),      // www stripped, gTLD: heuristic exact
      (6L, "http://cdn.zeta.org/f"),         // gTLD with subdomain
      (7L, "http://co.uk/g"),                // bare suffix host: keeps the suffix
      (8L, "http://eta.com.au/h")
    ).toDF("doc_id", "url")
    val out = TextAnalysis.urlDomainCapPsl(s, docs, "doc_id", "url", cap = 2)
      .orderBy("doc_id").collect()
    val domain = out.map(r => r.getLong(0) -> r.getString(2)).toMap
    val domainH = out.map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(domain(1L) == "alpha.co.uk" && domainH(1L) == "co.uk")
    assert(domain(2L) == "beta.co.uk")
    assert(domain(3L) == "gamma.co.uk")
    assert(domain(4L) == "delta.co.jp" && domainH(4L) == "co.jp")
    assert(domain(5L) == "epsilon.com" && domainH(5L) == "epsilon.com")
    assert(domain(6L) == "zeta.org" && domainH(6L) == "zeta.org")
    assert(domain(7L) == "co.uk")
    assert(domain(8L) == "eta.com.au" && domainH(8L) == "com.au")
    // the provable mis-group: four distinct registrants under co.uk
    // collapse into ONE heuristic domain, so cap=2 throttles two of
    // them heuristically while the table form keeps all four
    val coUk = out.filter(r => Set(1L, 2L, 3L, 7L)(r.getLong(0)))
    assert(coUk.forall(_.getString(5) == "co.uk"))
    assert(coUk.map(_.getString(2)).distinct.length == 4)
    assert(coUk.count(_.getBoolean(7)) == 2)  // kept_h: only cap=2 survive
    assert(coUk.forall(_.getBoolean(4)))      // kept (PSL): all 4 survive
  }

  /** Blob masters + CROP x ROTATE x SQUEEZE compound probes (the
    * class the round-12 verdict named the top user-hittable recall
    * gap): central 75% crop, then 17-degree rotation, then a 1.4:1
    * x-squeeze — all three factors unknown to the dedup. */
  private def cropAffineMedia(nMasters: Int, deg: Double = 17.0,
      sq: Double = 1.4): org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    // richer-structure masters than the plain 128px blob fixtures
    // (24 blobs on a 256 canvas, same safe minSep): the compound
    // probe loses border peaks to the crop, the rotation's corner
    // clip, AND the detector margin — a corpus with only 10 peaks
    // leaves too few for 5-point rot codes
    def blobs(seed: Long) =
      Media.syntheticPngBlobs(seed, 256, 256, nBlobs = 24, minSep = 22.0)
    val rows =
      (0 until nMasters).map(i => (i.toLong, blobs(i.toLong))) ++
      (0 until nMasters).map { i =>
        // crop to the central 75% RE-RENDERED at source size (how a
        // real crop re-upload ships), then rotate, then squeeze
        val crop = Media.pngCropResize(blobs(i.toLong),
          32, 32, 224, 224, 256, 256)
        val rot = Media.pngRotateResize(crop, deg)
        (100L + i, Media.pngCropResize(rot, 0, 0, 256, 256,
          math.round(256 / sq).toInt, 256))
      } ++
      (0 until nMasters).map(i => (200L + i, blobs(1000L + i)))
    rows.toDF("doc_id", "payload")
  }

  test("m174 kernel: crop x rot x squeeze lands under LOCAL whitening; m169 and the crop ladder are blind") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val media = cropAffineMedia(10)
    // the oriented scorer can match one pair under several residual
    // hypotheses — count DISTINCT pairs
    def planted(df: org.apache.spark.sql.DataFrame): Long =
      df.filter($"doc_b" - $"doc_a" === 100 && $"doc_b" < 200)
        .select($"doc_a", $"doc_b").distinct().count()
    val frames = planted(
      Multimodal.pairs(ImageAffineFrame())(media))
    val global = planted(
      Multimodal.pairs(ImageAffine())(media, minMatch = 0.2))
    val crop = planted(
      Multimodal.pairs(ImageScale())(media, minMatch = 0.2))
    info(s"frames=$frames global=$global cropLadder=$crop of 10")
    assert(frames >= 8, s"affine-frame recall too low: $frames/10")
    assert(global <= 2, s"m169 should be (mostly) blind here, got $global")
    assert(crop <= 2, s"crop ladder should be (mostly) blind here, got $crop")
    // no spurious pairs against the 10 fresh decoys
    val spurious = Multimodal.pairs(ImageAffineFrame())(media)
      .filter($"doc_b" >= 200 || ($"doc_b" - $"doc_a" =!= 100))
      .select($"doc_a", $"doc_b").distinct().count()
    assert(spurious == 0, s"spurious pairs: $spurious")
  }

  test("affineFrameCodes property: invariant under random orientation-preserving affine maps; mirrors excluded") {
    // exact cloud-level transforms (no resampling, no detection): the
    // ONLY loss is integer-grid rounding flipping quantizer bins, so
    // overlap must stay high across the whole well-conditioned
    // orientation-preserving group — and collapse for mirrors
    // (chirality is part of the code by design)
    var st = 0xC0FFEEL
    def nxt(): Double = {
      st = st * 6364136223846793005L + 1442695040888963407L
      ((st >>> 16) % 10000).toDouble / 10000.0
    }
    def codesOf(cs: Seq[(Int, Int, Int)]) =
      Multimodal.affineFrameCodes(cs, 48, 8, 4, 0.3).toSet
    var worst = 1.0
    for (trial <- 0 until 20) {
      // random well-separated cloud: 20 points on a 400-grid, >= 25 apart
      val pts = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      while (pts.length < 20) {
        val x = 40 + (nxt() * 320).toInt; val y = 40 + (nxt() * 320).toInt
        if (pts.forall { case (px, py, _) =>
          (px - x) * (px - x) + (py - y) * (py - y) >= 625 })
          pts += ((x, y, 100 + (nxt() * 100).toInt))
      }
      val th = nxt() * 2 * math.Pi
      val s1 = 0.8 + nxt() * 0.7; val s2 = 0.8 + nxt() * 0.7
      val sh = (nxt() - 0.5) * 0.4 // shear too — full affine group
      val a00 = s1 * StrictMath.cos(th) + sh * StrictMath.sin(th)
      val a01 = -s2 * StrictMath.sin(th)
      val a10 = s1 * StrictMath.sin(th) - sh * StrictMath.cos(th)
      val a11 = s2 * StrictMath.cos(th)
      // ensure orientation-preserving (det > 0); flip a sign if not
      val det = a00 * a11 - a01 * a10
      val (b00, b01, b10, b11) =
        if (det > 0) (a00, a01, a10, a11) else (-a00, -a01, a10, a11)
      val mapped = pts.map { case (x, y, v) =>
        (math.round(b00 * x + b01 * y).toInt,
          math.round(b10 * x + b11 * y).toInt, v) }.toSeq
      val base = codesOf(pts.toSeq)
      val inter = (base intersect codesOf(mapped)).size
      val frac = inter.toDouble / base.size
      worst = math.min(worst, frac)
      // mirror: same map with det < 0
      val mirrored = pts.map { case (x, y, v) =>
        (math.round(-b00 * x - b01 * y).toInt,
          math.round(b10 * x + b11 * y).toInt, v) }.toSeq
      val mi = (base intersect codesOf(mirrored)).size
      assert(mi <= base.size / 20,
        s"trial $trial: mirror overlap $mi of ${base.size} — chirality leak")
    }
    info(f"worst overlap across 20 random affine maps: ${worst}%.3f")
    assert(worst >= 0.10,
      f"affine invariance too lossy under rounding: worst $worst%.3f")
  }

  test("m179 verify tier lands harder compounds the m174 code gate drops; decoys still zero") {
    implicit val s: SparkSession = spark
    import s.implicits._
    def blobs(seed: Long) =
      Media.syntheticPngBlobs(seed, 256, 256, nBlobs = 24, minSep = 22.0)
    // the MEASURED gray zone (diag15 matrix): compounds whose code
    // evidence sits at 0.0085-0.0161, under the m174 0.02 gate
    def probe(src: Long, c0: Int, c1: Int, deg: Double, outW: Int) =
      Media.pngCropResize(Media.pngRotateResize(
        Media.pngCropResize(blobs(src), c0, c0, c1, c1, 256, 256),
        deg), 0, 0, 256, 256, outW, 256)
    val rows =
      (0 until 8).map(i => (i.toLong, blobs(i.toLong))) ++
      Seq((123L, probe(3, 38, 218, -23.0, 197)),   // 70% crop x 23 deg
        (126L, probe(6, 44, 212, 17.0, 183))) ++   // 66% crop x 17 deg
      (0 until 6).map(i => (200L + i, blobs(3000L + i)))
    val media = rows.toDF("doc_id", "payload")
    def planted(df: org.apache.spark.sql.DataFrame): Long =
      df.filter($"doc_b" >= 120 && $"doc_b" < 130 &&
        $"doc_b" - $"doc_a" === 120).select($"doc_a", $"doc_b")
        .distinct().count()
    val code = planted(Multimodal.pairs(ImageAffineFrame())(media, maxDf = 64))
    val verified = planted(
      Multimodal.pairs(ImageAffineFrameAnchored())(media, maxDf = 64))
    val spurious = Multimodal.pairs(ImageAffineFrameAnchored())(media,
        maxDf = 64)
      .filter(!($"doc_b" >= 120 && $"doc_b" < 130 &&
        $"doc_b" - $"doc_a" === 120)).count()
    info(s"codeGate=$code verified=$verified spurious=$spurious of 2")
    assert(verified == 2, s"verified recall: $verified/2")
    assert(code == 0, s"these probes must sit UNDER the code gate, got $code")
    assert(spurious == 0, s"spurious verified pairs: $spurious")
  }

  test("verified tier is invariant under repartitioning (canonical correspondence order)") {
    // collect_list order is partition-dependent; the verify UDF must
    // be a pure function of the correspondence SET or the golden
    // compare (and any cluster resize) would flip verdicts
    implicit val s: SparkSession = spark
    import s.implicits._
    val media = cropAffineMedia(6)
    def run(parts: Int) =
      Multimodal.pairs(ImageAffineFrameAnchored())(media.repartition(parts))
        .orderBy($"doc_a", $"doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    val a = run(1); val b = run(7)
    assert(a == b, s"repartitioning changed the verified verdicts:\n$a\nvs\n$b")
    assert(a.nonEmpty, "fixture must produce at least one verified pair")
  }

  test("m181 chiral readout lands MIRRORED crop x affine compounds the base family excludes") {
    implicit val s: SparkSession = spark
    import s.implicits._
    def blobs(seed: Long) =
      Media.syntheticPngBlobs(seed, 256, 256, nBlobs = 24, minSep = 22.0)
    // mirror (dihedral orient 4) AFTER the crop+rot+squeeze compound
    def probe(src: Long, deg: Double, outW: Int) =
      Media.pngDihedral(
        Media.pngCropResize(Media.pngRotateResize(
          Media.pngCropResize(blobs(src), 32, 32, 224, 224, 256, 256),
          deg), 0, 0, 256, 256, outW, 256), 4)
    val rows =
      (0 until 6).map(i => (i.toLong, blobs(i.toLong))) ++
      (0 until 6).map(i => (100L + i, probe(i.toLong,
        Seq(17.0, -23.0, 9.0, 33.0, 13.0, 27.0)(i),
        Seq(183, 197, 177, 190, 183, 171)(i)))) ++
      (0 until 4).map(i => (200L + i, blobs(4000L + i)))
    val media = rows.toDF("doc_id", "payload")
    def planted(df: org.apache.spark.sql.DataFrame): Long =
      df.filter($"doc_b" - $"doc_a" === 100 && $"doc_b" < 200)
        .select($"doc_a", $"doc_b").distinct().count()
    val base = planted(Multimodal.pairs(ImageAffineFrame())(media))
    val chiral = planted(Multimodal.pairs(ImageAffineFrameChiral())(media))
    val out = Multimodal.pairs(ImageAffineFrameChiral())(media)
    val spurious = out
      .filter(!($"doc_b" - $"doc_a" === 100 && $"doc_b" < 200))
      .select($"doc_a", $"doc_b").distinct().count()
    // every landed pair must come through the MIRROR readout
    val orients = out.filter($"doc_b" - $"doc_a" === 100 && $"doc_b" < 200)
      .select($"orient").distinct().as[Int].collect().toSet
    info(s"base=$base chiral=$chiral spurious=$spurious orients=$orients of 6")
    assert(base == 0, s"chirality-fixed base family must be blind, got $base")
    assert(chiral >= 5, s"chiral recall too low: $chiral/6")
    assert(spurious == 0, s"spurious chiral pairs: $spurious")
    assert(orients == Set(1), s"mirrored compounds must land via orient 1, got $orients")
  }

  test("urlDomainCapPsl broadcasts the suffix table (no shuffle added by the join)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "http://a.b.co.uk/x")).toDF("doc_id", "url")
    val plan = TextAnalysis.urlDomainCapPsl(s, docs, "doc_id", "url", cap = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"suffix join must broadcast, got:\n$plan")
  }
}
