package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{AudioCode, PHash}

/** Round-7 additions: cluster-safe materialization, BPE encode,
  * tokenization contract. */
class Round7Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---- Materialize: the strategy switch is the cluster-safety claim --

  test("Materialize.strategy picks localCheckpoint only under local masters") {
    import Materialize._
    assert(strategy("local[4]", hasCheckpointDir = false) == LocalCheckpoint)
    assert(strategy("local[*]", hasCheckpointDir = true) == LocalCheckpoint)
    // local-cluster runs REAL multi-process executors (the block-loss
    // harness) — it must take the cluster paths, not localCheckpoint
    assert(strategy("local-cluster[2,1,1024]", hasCheckpointDir = false) == ReplicatedPersist)
    assert(strategy("local-cluster[2,1,1024]", hasCheckpointDir = true) == ReliableCheckpoint)
    // cluster masters must never rely on non-replicated local blocks:
    // reliable checkpoint when a dir exists, replicated persist otherwise
    assert(strategy("spark://host:7077", hasCheckpointDir = true) == ReliableCheckpoint)
    assert(strategy("spark://host:7077", hasCheckpointDir = false) == ReplicatedPersist)
    assert(strategy("yarn", hasCheckpointDir = true) == ReliableCheckpoint)
    assert(strategy("yarn", hasCheckpointDir = false) == ReplicatedPersist)
    assert(strategy("k8s://https://host:6443", hasCheckpointDir = false) == ReplicatedPersist)
  }

  test("Materialize.eager materializes and preserves contents") {
    import spark.implicits._
    val df = (1 to 100).toDF("x").filter(col("x") % 2 === 0)
    val m = Materialize.eager(df)
    assert(m.count() == 50)
    assert(m.agg(sum("x")).head().getLong(0) == (2 to 100 by 2).sum)
  }

  // ---- IVFPQ + exact refine (s55): recall can only improve ----------

  test("ivfSearchPqRerank recall-at-k >= plain ivfSearchPq against brute truth") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 10)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"qid".cast("long"), $"vec_id".cast("long"))
        .as[(Long, Long)].collect().groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).toSet }
    val truth = topSets(Similarity.knnBrute(emb, q, k = 5))
    val plain = topSets(Similarity.ivfSearchPq(emb, q, k = 5))
    val rerank = topSets(Similarity.ivfSearchPqRerank(emb, q, k = 5, candK = 20))
    def recall(got: Map[Long, Set[Long]]): Double =
      truth.map { case (qid, t) =>
        got.getOrElse(qid, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    val rPlain = recall(plain)
    val rRerank = recall(rerank)
    assert(rRerank >= rPlain,
      f"rerank recall $rRerank%.3f must not trail plain IVFPQ $rPlain%.3f")
    // the refine pass re-sorts a SUPERSET of the plain top-k under the
    // true metric, so per-query the reranked set is the exact-best of
    // the pool — sanity: the pool covered something real
    assert(rRerank > 0.0)
  }

  // ---- Tokenization contract (r6 "what's wrong" #3) -----------------

  test("tokens() counts real-world whitespace like a human; normalize is its fixpoint") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain single spaced text"),
      (2L, "tab\tseparated\twords"),
      (3L, "  leading and   multi  spaced trailing  "),
      (4L, "line\nbreaks\r\ncount\ntoo"),
      (5L, "mixed \t \n all kinds")).toDF("doc_id", "text")
    val counts = TextAnalysis.tokenStats(docs, "doc_id", "text")
      .select($"doc_id", $"n_tokens").as[(Long, Int)].collect().toMap
    assert(counts == Map(1L -> 4, 2L -> 3, 3L -> 5, 4L -> 4, 5L -> 3))
    // tokens of raw text == tokens of normalized text (the contract
    // bridge: wide tokenization is normalization-invariant)
    val raw = docs.select($"doc_id", TextAnalysis.tokens($"text").as("tk"))
    val norm = docs.select($"doc_id",
      TextAnalysis.tokens(TextAnalysis.normalizeWhitespace($"text")).as("tk"))
    assert(raw.as[(Long, Seq[String])].collect().toMap ==
      norm.as[(Long, Seq[String])].collect().toMap)
    // and on already-normalized text the wide split IS the single-space
    // split the oracles replay
    val single = docs.select($"doc_id",
      split(TextAnalysis.normalizeWhitespace($"text"), " ").as("tk"))
    assert(norm.as[(Long, Seq[String])].collect().toMap ==
      single.as[(Long, Seq[String])].collect().toMap)
  }

  // ---- BPE encode (t65): the apply half of the t64 induction --------

  test("bpeEncode matches a driver-side sequential-replace replay") {
    import spark.implicits._
    val texts = Map(
      1L -> "a b a b c", 2L -> "a b c a b",
      3L -> "c c a b", 4L -> "b c a b a")
    val docs = texts.toSeq.toDF("doc_id", "text")
    val rules = TextAnalysis.bpeMergeRules(docs, "text", merges = 2)
      .orderBy($"iter").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val got = TextAnalysis.bpeEncode(docs, "doc_id", "text", rules)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    texts.foreach { case (id, text) =>
      // reference semantics: leftmost non-overlapping space-padded
      // replace per rule, in merge-priority order (plain Java replace)
      val expected = rules.foldLeft(" " + text + " ") { case (t, (a, b)) =>
        t.replace(s" $a $b ", s" ${a}_$b ")
      }.trim
      val toks = expected.split(" ").toSeq
      assert(got(id) == (expected, toks.length.toLong,
        toks.count(_.contains("_")).toLong), s"doc $id")
    }
  }

  test("bpeEncode output feeds packSequences real subword token counts") {
    import spark.implicits._
    val docs = Seq(1L -> "a b a b a b", 2L -> "a b c", 3L -> "c c")
      .toDF("doc_id", "text")
    val rules = TextAnalysis.bpeMergeRules(docs, "text", merges = 1)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = TextAnalysis.bpeEncode(docs, "doc_id", "text", rules)
    val encCounts = enc.select($"doc_id", $"n_tokens").as[(Long, Long)]
      .collect().toMap
    // packSequences tokenizes textCol by space — handing it text_enc
    // makes its n_tokens the REAL subword counts, not whitespace counts
    val packed = TextAnalysis.packSequences(enc, "doc_id", "text_enc", 8)
      .select($"doc_id", $"n_tokens".cast("long")).as[(Long, Long)]
      .collect().toMap
    assert(packed == encCounts)
    // and the merge actually shrank the counts vs whitespace tokens
    assert(encCounts(1L) < 6)
  }

  // ---- t66 cross near-dup / t67 char entropy ------------------------

  test("crossNearDupPairs agrees with the self-join pairs on probe-involving pairs") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val probes = docs.filter($"doc_id" < 50)
    val cross = TextDedup.crossNearDupPairs(docs, "doc_id", "text",
        probes, "doc_id", "text", 0.5)
      .select($"doc_id".cast("long"), $"probe_id".cast("long"))
      .as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val self = TextDedup.minHashLshPairs(docs, "doc_id", "text", 0.5)
      .select($"doc_a".cast("long"), $"doc_b".cast("long"))
      .as[(Long, Long)].collect()
      .filter { case (a, b) => a < 50 || b < 50 }.toSet
    // exact-Jaccard verification makes both outputs candidate-
    // independent, so the unordered pair sets must coincide
    assert(cross == self, s"cross=$cross self=$self")
  }

  test("charEntropy: uniform text hits ln(alphabet), skew lowers it, fold replays") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abab"),            // uniform over {a,b} -> ln 2
      (2L, "aaab"),            // skewed -> below ln 2
      (3L, "abcdabcdabcd"),    // uniform over 4 -> ln 4
      (4L, "zzzz")             // single char -> 0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .select($"doc_id", $"char_entropy", $"n_distinct_chars")
      .as[(Long, Double, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == (r6(math.log(2)), 2))
    assert(got(2L)._1 < math.log(2) && got(2L)._1 > 0)
    // replay doc 2's pinned fold: terms in ascending char order
    val pA = 3.0 / 4; val pB = 1.0 / 4
    assert(got(2L)._1 == r6(-(pA * math.log(pA) + pB * math.log(pB))))
    assert(got(3L) == (r6(math.log(4)), 4))
    assert(got(4L) == (0.0, 1))
  }

  // ---- m78 pHash image near-dup --------------------------------------

  test("pHashPairs finds planted image near-dups with no cross pairs") {
    import spark.implicits._
    val png = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticPng(id)
      else Multimodal.syntheticPngVariant(id - 20))
    val media = spark.range(0, 40)
      .select(col("id").as("doc_id"), png(col("id")).as("payload"))
    val pairs = Multimodal.pairs(PHash)(media, maxDist = 3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 20L).map(i => (i, i + 20)).toSet
    assert(pairs.subsetOf(planted), s"false positives: ${pairs -- planted}")
    assert(pairs.size >= 15, s"found only ${pairs.size} of 20 planted near-dups")
  }

  // ---- m79 audio fingerprint -----------------------------------------

  test("audioFingerprintPairs: re-leveled re-uploads match, distinct recordings don't") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val wav = udf((id: Long) =>
      if (id < 20) Multimodal.syntheticWavTex(id, (160 + (id % 13) * 16).toInt)
      else Multimodal.syntheticWavTex(id - 20,
        (160 + ((id - 20) % 13) * 16).toInt, num = 9, den = 10))
    val media = spark.range(0, 40)
      .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
    val pairs = Multimodal.pairs(AudioCode)(media)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 20L).map(i => (i, i + 20)).toSet
    assert(pairs.intersect(planted).size >= 15,
      s"found only ${pairs.intersect(planted).size} of 20 planted re-levels")
    assert((pairs -- planted).isEmpty, s"false pairs: ${pairs -- planted}")
  }

  // ---- GIF delta-frame compositing (ADVICE r6: raw rasters were
  // returned uncomposited, so offset/partial frames decoded wrong) ----

  /** 2-frame GIF: 16x16 base (pixel = x + 16*y, gray) then a 6x5 patch
    * of solid gray 200 at offset (6,6) — a DELTA frame like real
    * animated GIFs carry. Written via the JDK GIF writer with explicit
    * per-frame ImageDescriptor positions. (Patch is 6x5, not smaller:
    * the JDK GIF codec corrupts the last row of images under 5x5 on a
    * plain single-frame round-trip — a JDK quirk, not a compositing
    * concern.) */
  private def deltaGif(): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    def gray(w: Int, h: Int)(f: (Int, Int) => Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, f(x, y))
      img
    }
    def metaAt(img: java.awt.image.BufferedImage, x: Int, y: Int) = {
      val m = writer.getDefaultImageMetadata(
        ImageTypeSpecifier.createFromRenderedImage(img),
        writer.getDefaultWriteParam)
      val fmt = "javax_imageio_gif_image_1.0"
      val root = m.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
      var n = root.getFirstChild
      while (n != null) {
        if (n.getNodeName == "ImageDescriptor") {
          val e = n.asInstanceOf[IIOMetadataNode]
          e.setAttribute("imageLeftPosition", x.toString)
          e.setAttribute("imageTopPosition", y.toString)
        }
        n = n.getNextSibling
      }
      m.setFromTree(fmt, root)
      m
    }
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      val base = gray(16, 16)((x, y) => x + 16 * y)
      val patch = gray(6, 5)((_, _) => 200)
      writer.writeToSequence(new IIOImage(base, null, metaAt(base, 0, 0)), null)
      writer.writeToSequence(new IIOImage(patch, null, metaAt(patch, 6, 6)), null)
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  test("decodeGifFrames composites delta frames onto the logical screen") {
    val frames = Multimodal.decodeGifFrames(deltaGif())
      .getOrElse(fail("delta GIF did not decode"))
    assert(frames.length == 2)
    // every composited frame is logical-screen sized, not patch-sized
    assert(frames.forall(f => f.getWidth == 16 && f.getHeight == 16))
    def luma(img: java.awt.image.BufferedImage, x: Int, y: Int): Int = {
      val rgb = img.getRGB(x, y)
      (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
        (rgb & 0xff) * 114) / 1000
    }
    for (y <- 0 until 16; x <- 0 until 16) {
      assert(luma(frames(0), x, y) == x + 16 * y, s"base frame at ($x,$y)")
      val expected =
        if (x >= 6 && x < 12 && y >= 6 && y < 11) 200 else x + 16 * y
      assert(luma(frames(1), x, y) == expected, s"composited frame at ($x,$y)")
    }
  }
}
