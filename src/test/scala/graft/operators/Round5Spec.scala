package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 behavior gates: scale-derived SRP bucket bits, linear LSH
  * candidate growth, ASOF NULL propagation, the SemDeDup skew guard,
  * trained-centroid IVF, the real image-decode path, and the KMV
  * sorted-array insert/merge kernel. */
class Round5Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("deriveSrpBits: power-of-two boundaries, clamps, oracle parity") {
    import Similarity.deriveSrpBits
    // clamp floor: tiny corpora stay at 6 bits
    assert(deriveSrpBits(0) == 6 && deriveSrpBits(1) == 6 && deriveSrpBits(8) == 6)
    // exact power boundary: n = target*2^b needs exactly b bits...
    assert(deriveSrpBits(8L * 1024) == 10)
    // ...and one more vector tips to b+1 (m-1 gains a bit)
    assert(deriveSrpBits(8L * 1024 + 1) == 11)
    assert(deriveSrpBits(8L * 2048) == 11)
    assert(deriveSrpBits(8L * 2048 + 1) == 12)
    // clamp ceiling
    assert(deriveSrpBits(Long.MaxValue / 2) == 48)
    // parity with the s46 DuckDB oracle's length(bin(m-1)) derivation
    for (n <- Seq(2L, 100L, 8192L, 8193L, 999999L)) {
      val m = (n + 7) / 8
      val sqlBits =
        if (m <= 1) 6
        else math.min(48, math.max(6, java.lang.Long.toBinaryString(m - 1).length))
      assert(deriveSrpBits(n) == sqlBits, s"n=$n")
    }
  }

  test("SRP candidate volume stays ~linear when the corpus doubles") {
    import spark.implicits._
    def corpus(n: Int) = (0 until n).map { id =>
      val r = new java.util.Random(id.toLong) // spec-fixed LCG: deterministic
      (id.toLong, Seq.fill(16)(r.nextGaussian().toFloat))
    }.toDF("vec_id", "v")
    def candidates(n: Int): Long =
      Similarity.srpCandidates(corpus(n), dim = 16,
        nBits = Similarity.deriveSrpBits(n), tables = 2, seed = 42L).count()
    val c1 = candidates(2000)
    val c2 = candidates(4000)
    assert(c1 > 0, "buckets must collide at all")
    // derived bits keep expected bucket occupancy constant: doubling N
    // should ~double candidates (quadratic growth with fixed buckets
    // would quadruple them)
    assert(c2 < c1 * 3, s"candidate growth not linear: $c1 -> $c2")
  }

  test("asof join: a matched right row's NULLs are NOT patched by older rows") {
    import spark.implicits._
    def ts(x: Int) = new java.sql.Timestamp(x * 1000L)
    val left = Seq(("A", ts(10), 1L)).toDF("k", "t", "row_id")
    val right = Seq(
      ("A", ts(5), Some(1.5), "old"),
      ("A", ts(8), None, "new")) // matched row: v is NULL
      .toDF("k", "rt", "v", "tag")
    val out = AsOfJoin.asofJoin(left, right, Seq("k"), "t", "rt", Seq("v", "tag"))
      .head()
    // the ASOF contract: the matched row's values, nulls included — a
    // per-column carry would stitch v=1.5 from t=5 with tag="new" from t=8
    assert(out.getAs[String]("tag") == "new")
    assert(out.isNullAt(out.fieldIndex("v")),
      "NULL in the matched right row must survive")
  }

  test("semantic dedup skew guard: no aggregation task holds more than the cap") {
    import spark.implicits._
    // adversarial: one giant directionally-broad cluster. Seeds are the
    // 2 lowest-id vectors; vec 1 sits far away so cluster 0 receives
    // ~all 1000 rows. Ids 990-999 are five planted EXACT-duplicate
    // pairs (identical vectors share every SRP bit, so the guard can
    // never separate them).
    def vec(seed: Long): Seq[Float] = {
      val r = new java.util.Random(seed)
      Seq.tabulate(8)(i => (if (i == 0) 5f else 0f) + 8f * r.nextGaussian().toFloat)
    }
    val corpus = (0 until 1000).map { id =>
      val v =
        if (id == 1) Seq.fill(8)(100.0f)
        else if (id >= 990) vec(990L + (id - 990) / 2) // duplicate pairs
        else vec(id.toLong)
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val maxCluster = 100
    val keyed = Similarity.semanticClusterKeys(corpus, nCentroids = 2,
      idCol = "vec_id", vecCol = "embedding", dim = 8, maxCluster = maxCluster)
    val sizes = keyed.groupBy($"centroid_id", $"_sub").count()
      .select($"count").as[Long].collect()
    assert(sizes.sum == 1000)
    // SRP sub-bucket membership is probabilistic — allow headroom over
    // the cap, versus the single 999-row task the unguarded shape feeds
    assert(sizes.max <= (maxCluster * 2.5).toLong,
      s"skewed cluster not split: max task size ${sizes.max}")
    assert(sizes.length > 4, "oversized cluster should split into sub-buckets")
    // the guard only removes cross-sub-bucket pairs, never invents any —
    // and exact duplicates always survive it
    val dupPairs = (0 until 5).map(i => (990L + 2 * i, 991L + 2 * i)).toSet
    val guarded = Similarity.semanticDupPairs(corpus, 0.99, nCentroids = 2,
        dim = 8, maxCluster = maxCluster)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val unguarded = Similarity.semanticDupPairs(corpus, 0.99, nCentroids = 2,
        dim = 8, maxCluster = Int.MaxValue)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(guarded.subsetOf(unguarded))
    assert(dupPairs.subsetOf(guarded),
      s"planted exact duplicates must survive the guard: ${dupPairs -- guarded}")
  }

  test("ivf search with trained centroids: recall >= seed-centroid recall") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val truth = Similarity.knnBrute(emb, queries, k = 10)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    def recall(centroids: Option[Array[(Long, Array[Double])]]): Double = {
      val got = Similarity.ivfSearch(emb, queries, k = 10, nCentroids = 8,
        nprobe = 2, centroids = centroids)
        .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val seedRecall = recall(None)
    val trainedRecall = recall(Some(Similarity.trainedCentroids(emb, k = 8, iters = 5)))
    assert(trainedRecall >= seedRecall,
      s"trained $trainedRecall vs seed $seedRecall")
    assert(trainedRecall > 0.5, s"trained recall unreasonably low: $trainedRecall")
  }

  test("image decode is real: resize recovers the exact block means via PNG roundtrip") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val png = Media.syntheticPng(7L, 16, 16)
    assert(Multimodal.sniffImage(png))
    val media = Seq((7L, png)).toDF("doc_id", "payload")
    val resized = Multimodal.resize(media, factor = 4).head()
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized.payload))
    assert(img.getWidth == 4 && img.getHeight == 4)
    // expected (0,0): integer mean over the 4x4 source block, computed
    // here straight from the syntheticPng pixel formula — the decode →
    // downscale → PNG-encode → decode chain must reproduce it exactly
    def chan(f: (Int, Int) => Long): Int =
      ((for (y <- 0 until 4; x <- 0 until 4) yield f(x, y)).sum / 16).toInt
    val er = chan((x, y) => (7L * 7 + x * 13 + y * 31) % 256)
    val eg = chan((x, y) => (7L * 11 + x * 3 + y * 17) % 256)
    val eb = chan((x, y) => (7L * 5 + x * 29 + y * 7) % 256)
    val rgb = img.getRGB(0, 0)
    assert(((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff) == ((er, eg, eb)))
    // features on an image payload come from the decoded luma plane:
    // n_bytes is the PIXEL count, not the (larger) encoded byte count
    val feats = Multimodal.extractFeatures(media).head()
    assert(feats.n_bytes == 256 && png.length != 256)
    // non-image payloads keep the byte-stub path alive
    val stub = Multimodal.extractFeatures(
      Seq((8L, "plain text bytes".getBytes("UTF-8"))).toDF("doc_id", "payload")).head()
    assert(stub.n_bytes == 16)
  }

  test("two-pass exact quantile matches the builtin percentile (1 ulp) and DuckDB's lerp exactly") {
    import spark.implicits._
    // adversarial shapes: dup-heavy ints, near-unique doubles, a
    // single-row group, and a group where p*(n-1) is exactly integral
    val r = new java.util.Random(7)
    val rows = (0 until 5000).map { i =>
      val k = if (i == 4999) "solo" else s"g${i % 3}"
      // sprinkle NULLs (ignored by the percentile contract) and one
      // all-null group (must surface with a null quantile, not vanish)
      val qty: java.lang.Double = if (i % 17 == 0) null else (r.nextInt(50) + 1).toDouble
      (k, qty, r.nextDouble() * 1e5)
    } :+ (("allnull", null: java.lang.Double, 1.0))
    val df = rows.toDF("k", "qty", "price")
    val got = ExactQuantile.groupQuantiles(df, "k",
      Seq(("qty", 0.5, "median_qty"), ("price", 0.9, "p90_price")))
      .orderBy("k").collect()
    // builtin percentile interpolates lo+(hi-lo)*f; we use DuckDB's
    // lo*(1-f)+hi*f (the oracle's operation order, sf0.001-caught) —
    // mathematically equal, so the two agree to the final ulp
    val want = df.groupBy($"k")
      .agg(percentile($"qty", lit(0.5)).as("median_qty"),
        percentile($"price", lit(0.9)).as("p90_price"))
      .orderBy("k").collect()
    def ulpEq(a: java.lang.Double, b: java.lang.Double): Boolean =
      (a == null && b == null) ||
        (a != null && b != null && math.abs(a - b) <= math.ulp(b))
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0))
      assert(ulpEq(g.getAs[java.lang.Double](1), w.getAs[java.lang.Double](1)), s"qty ${g} vs ${w}")
      assert(ulpEq(g.getAs[java.lang.Double](2), w.getAs[java.lang.Double](2)), s"price ${g} vs ${w}")
    }
    // and exact-bit equality with the lerp reference on the raw values
    val priceByKey = rows.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._3).sorted }
    for ((k, vs) <- priceByKey if k != "allnull") {
      val rr = 0.9 * (vs.length - 1)
      val (lo, hi) = (vs(rr.toInt), vs(math.ceil(rr).toInt))
      val f = rr - math.floor(rr)
      val exp = lo * (1 - f) + hi * f
      val gotV = got.find(_.getString(0) == k).get.getDouble(2)
      assert(gotV == exp, s"$k: $gotV != $exp")
    }
  }

  test("binned quantile selection matches the window path bit-for-bit (incl. null groups)") {
    import spark.implicits._
    val r = new java.util.Random(11)
    val rows = (0 until 5000).map { i =>
      val k = if (i == 4999) "solo" else s"g${i % 3}"
      val qty: java.lang.Double = if (i % 17 == 0) null else (r.nextInt(50) + 1).toDouble
      // negatives + zero exercise the orderedBits sign handling
      val price: java.lang.Double = (r.nextDouble() - 0.5) * 1e5
      (k, qty, price)
    } :+ (("allnull", null: java.lang.Double, null: java.lang.Double))
    val df = rows.toDF("k", "qty", "price")
    val specs = Seq(("qty", 0.5, "median_qty"), ("price", 0.9, "p90_price"))
    val fromWindow = ExactQuantile.groupQuantiles(df, "k", specs).orderBy("k").collect()
    val fromBins = ExactQuantile.groupQuantilesBinned(df, "k", specs).orderBy("k").collect()
    assert(fromWindow.length == fromBins.length)
    fromWindow.zip(fromBins).foreach { case (w, b) =>
      assert(w.getString(0) == b.getString(0))
      (1 to 2).foreach { i =>
        assert(w.getAs[java.lang.Double](i) == b.getAs[java.lang.Double](i),
          s"${w.getString(0)} col$i: $w vs $b")
      }
    }
    // every ceiling hard-fails with guidance instead of risking driver
    // memory: per-target-bin rows, TOTAL pass-2 candidates, and the
    // histogram entry cap enforced inside the treeReduce merges
    val boomBin = intercept[Exception] {
      ExactQuantile.groupQuantilesBinned(df, "k", specs, maxBinRows = 2).count()
    }
    assert(boomBin.getMessage.contains("groupQuantiles"))
    val boomTotal = intercept[Exception] {
      ExactQuantile.groupQuantilesBinned(df, "k", specs, maxCandidateRows = 3).count()
    }
    assert(boomTotal.getMessage.contains("groupQuantiles"))
    val boomHist = intercept[Exception] {
      ExactQuantile.groupQuantilesBinned(df, "k", specs, maxHistEntries = 4).count()
    }
    assert(boomHist.getMessage.contains("groupQuantiles"))
  }

  test("repetition signals are per-ROW on duplicated doc_ids (canonical semantics)") {
    import spark.implicits._
    // same id, different texts: the fused kernel must emit one row per
    // input row with THAT row's statistics — never pool grams across
    // rows sharing an id (the documented precondition/divergence from
    // the exploded spec, which groups by id)
    val d = Seq((1L, "a a a a"), (1L, "b c d e"), (2L, "x y")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(d, "doc_id", "text")
      .select($"doc_id", $"top_token_fraction").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (t._1, t._2))
    assert(out.length == 3, "one output row per input row")
    assert(out.toSeq == Seq((1L, 0.25), (1L, 1.0), (2L, 0.5)))
  }

  test("kmv sorted-array kernel matches the naive reference sketch") {
    import graft.functions.KmvSketch
    val k = 32
    val agg = new KmvSketch.KmvAgg(k)
    val values = (0 until 500).map(i => s"v${i % 211}") // dups on purpose
    val (half1, half2) = values.splitAt(250)
    val b1 = half1.foldLeft(agg.zero)(agg.reduce)
    val b2 = half2.foldLeft(agg.zero)(agg.reduce)
    val merged = agg.merge(b1, b2)
    // reference: k smallest distinct md5 hex strings, straight sort
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) =
      md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val naive = values.distinct.map(md5hex).sorted.take(k)
    assert(merged.hashes.toSeq == naive)
    assert(agg.finish(merged) == KmvSketch.estimate(naive.toArray, k))
    // buffer stays sorted + bounded through merges in either order
    assert(agg.merge(b2, b1).hashes.toSeq == naive)
    assert(merged.hashes.length == k)
  }

  test("unigram rarity and tfidf match brute-force references on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(77L)
    val docs = (0 until 50).map { id =>
      (id.toLong, Seq.fill(3 + rnd.nextInt(12))(s"w${rnd.nextInt(8)}").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val corpusTf = docs.flatMap(_._2.split(" ", -1)).groupBy(identity).view.mapValues(_.size).toMap
    // rarity: per doc, avg corpus-tf over token instances + hapax fraction
    val rar = TextAnalysis.unigramRarity(df, "doc_id", "text").orderBy("doc_id").collect()
    docs.foreach { case (id, text) =>
      val tk = text.split(" ", -1)
      val r = rar(id.toInt)
      assert(r.getLong(1) == tk.length)
      assert(r.getDouble(2) == tk.map(corpusTf(_).toLong).sum.toDouble / tk.length)
      assert(r.getDouble(3) == tk.count(corpusTf(_) == 1).toDouble / tk.length)
      assert(r.getLong(4) == tk.map(corpusTf(_).toLong).min)
    }
    // tfidf: top-3 by tf*N/df with token tie-break
    val df50 = docs.flatMap { case (id, text) =>
      text.split(" ", -1).distinct.map(t => (t, id)) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val got = TextAnalysis.tfidfTopTerms(df, "doc_id", "text", 3)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(4))).toSeq
    val want = docs.flatMap { case (id, text) =>
      val tk = text.split(" ", -1)
      tk.groupBy(identity).view.mapValues(_.size).toSeq
        .map { case (t, c) => (t, c.toLong * docs.size / df50(t).toDouble, c) }
        .map { case (t, s, _) => (t, s) }
        .sortBy { case (t, s) => (-s, t) }.take(3)
        .map { case (t, s) => (id, t, s) }
    }
    assert(got == want)
  }

  test("dup substring coverage matches a brute-force reference on random corpora") {
    import spark.implicits._
    // tiny vocab so k-token windows genuinely repeat across random docs
    val rnd = new scala.util.Random(20260812L)
    val k = 4
    for (round <- 0 until 3) {
      val docs = (0 until 60).map { id =>
        val len = 2 + rnd.nextInt(20) // includes docs shorter than k
        (id.toLong, Seq.fill(len)(s"v${rnd.nextInt(5)}").mkString(" "))
      }
      // brute force: window multiset over all docs, then interval union
      val all = docs.flatMap { case (id, text) =>
        val tk = text.split(" ", -1)
        (0 to tk.length - k).map(i => (id, i, tk.slice(i, i + k).mkString(" ")))
      }
      val counts = all.groupBy(_._3).view.mapValues(_.size).toMap
      val expected = docs.map { case (id, text) =>
        val n = text.split(" ", -1).length
        val spans = all.filter(w => w._1 == id && counts(w._3) >= 2)
          .map(w => (w._2, w._2 + k)).sortBy(_._1)
        val covered = spans.foldLeft((0L, 0)) { case ((acc, reach), (s, e)) =>
          (acc + math.max(0, e - math.max(s, reach)), math.max(reach, e))
        }._1
        (id, n.toLong, covered)
      }.sortBy(_._1)
      val got = TextDedup.dupSubstringCoverage(
          docs.toDF("doc_id", "text"), "doc_id", "text", k)
        .orderBy("doc_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == expected, s"round $round diverged from brute force")
    }
  }
}
