package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 behavior gates: exact-substring REMOVAL against a
  * brute-force reference, quantized-IVF search, streaming near-dup
  * state, and multi-frame GIF decode. */
class Round6Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("dupSubstringRemove matches a brute-force span-union reference (property sweep)") {
    import spark.implicits._
    val k = 3
    val r = new java.util.Random(206)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    // random docs with PLANTED repeats: a shared boilerplate phrase, an
    // in-document tandem repeat, and docs shorter than the window
    val boiler = "copy right all rights reserved"
    val docs = (0L until 60L).map { id =>
      val words = Seq.fill(r.nextInt(12) + 1)(vocab(r.nextInt(vocab.length)))
      val text = id % 4 match {
        case 0 => (words :+ boiler).mkString(" ")
        case 1 => (words ++ words.takeRight(math.min(4, words.length))).mkString(" ")
        case 2 => words.take(k - 1).mkString(" ") // shorter than the window
        case _ => words.mkString(" ")
      }
      (id, text)
    }
    val got = TextDedup.dupSubstringRemove(docs.toDF("doc_id", "text"),
      "doc_id", "text", k).collect().map(r0 =>
        r0.getLong(0) -> ((r0.getLong(1), r0.getLong(2), r0.getString(3)))).toMap

    // brute-force reference: count window occurrences corpus-wide, cover
    // every duplicated [start, start+k), keep the complement tokens
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1) }.toMap
    val occ = collection.mutable.HashMap[String, Int]()
    toks.values.foreach { tk =>
      (0 to tk.length - k).foreach { i =>
        val g = tk.slice(i, i + k).mkString(" ")
        occ(g) = occ.getOrElse(g, 0) + 1
      }
    }
    docs.foreach { case (id, _) =>
      val tk = toks(id)
      val covered = new Array[Boolean](tk.length)
      (0 to tk.length - k).foreach { i =>
        if (occ(tk.slice(i, i + k).mkString(" ")) >= 2)
          (i until i + k).foreach(covered(_) = true)
      }
      val kept = tk.indices.filterNot(covered).map(tk)
      val (nTok, keptTok, keptText) = got(id)
      assert(nTok == tk.length, s"doc $id n_tokens")
      assert(keptTok == kept.length, s"doc $id kept_tokens: $keptTok vs ${kept.length}")
      assert(keptText == kept.mkString(" "), s"doc $id kept_text")
      // the defining property: no kept index is covered by a duplicated window
      assert(!tk.indices.filterNot(covered).exists(covered), "complement sanity")
    }

    // consistency with the coverage signal: kept = total - covered
    val cov = TextDedup.dupSubstringCoverage(docs.toDF("doc_id", "text"),
      "doc_id", "text", k).collect()
      .map(r0 => r0.getLong(0) -> r0.getLong(2)).toMap
    docs.foreach { case (id, _) =>
      val (nTok, keptTok, _) = got(id)
      assert(keptTok == nTok - cov(id), s"doc $id kept != n - covered")
    }
  }

  test("quantized IVF search: recall matches float IVF; codes store 4x smaller") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val truth = Similarity.knnBrute(emb, queries, k = 10)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val floatRecall = recallOf(Similarity.ivfSearch(emb, queries, k = 10,
      nCentroids = 8, nprobe = 2))
    val quantRecall = recallOf(Similarity.ivfSearchQuantized(emb, queries, k = 10,
      nCentroids = 8, nprobe = 2))
    // identical probe lists; only within-candidate ranking can differ,
    // and int8 keeps enough resolution to preserve the top-k
    assert(quantRecall >= floatRecall - 0.02,
      s"quantized $quantRecall vs float $floatRecall")
    assert(quantRecall > 0.5, s"quantized recall unreasonably low: $quantRecall")

    // the storage claim: int8 codes materialize ~4x smaller than floats
    val dir = java.nio.file.Files.createTempDirectory("qsize").toString
    emb.select($"embedding").write.mode("overwrite").parquet(s"$dir/f32")
    Similarity.quantizeInt8(emb)
      .select(transform($"qvec", x => x.cast("byte")).as("code"))
      .write.mode("overwrite").parquet(s"$dir/i8")
    def bytes(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val (f32, i8) = (bytes(s"$dir/f32"), bytes(s"$dir/i8"))
    assert(i8.toDouble / f32 < 0.5, s"codes $i8 B vs floats $f32 B — not smaller")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("streaming near-dup verdicts: id-ordered fold, mutants dropped, distinct kept") {
    import spark.implicits._
    val long1 = (1 to 40).map(i => s"tok$i").mkString(" ")
    val long2 = (1 to 40).map(i => s"other$i").mkString(" ")
    val docs = Seq(
      (1L, long1),
      (2L, long2),
      (3L, long1 + " appended tail"), // near-dup of 1
      (4L, "tiny doc"),               // zero shingles at k=3... (2 tokens)
      (5L, "tiny doc")                // also zero shingles: must NOT match 4
    ).toDF("doc_id", "text")
    val verdicts = StreamingNearDup.bandVerdicts(docs, "doc_id", "text")
      .collect().groupBy(_.doc_id)
    def droppedBy(id: Long): Set[Long] =
      verdicts(id).flatMap(_.dup_src).toSet
    assert(droppedBy(1L).isEmpty, "first doc must be kept")
    assert(droppedBy(2L).isEmpty, "unrelated doc must be kept")
    assert(droppedBy(3L) == Set(1L), "appended-tail mutant must dedup to doc 1")
    // zero-shingle docs have all-null signatures: never near anything
    assert(droppedBy(4L).isEmpty && droppedBy(5L).isEmpty)
    // the verdict depends only on LOWER ids, so any batch split yields
    // the same outcome — re-run on each half with carried state shape
    // is exercised end-to-end by the st68 oracle gate
  }

  test("PQ encode/ADC: code shape, storage ratio, and rank correlation with exact cosine") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val codes = Similarity.pqEncode(emb)
    val rows = codes.collect()
    assert(rows.forall(_.getSeq[Int](1).length == 8))
    assert(rows.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 16)))
    // 8-byte codes vs 256-byte float vectors: the storage claim
    val dir = java.nio.file.Files.createTempDirectory("pqsize").toString
    emb.select($"embedding").write.mode("overwrite").parquet(s"$dir/f32")
    codes.select(transform($"codes", x => x.cast("byte")).as("code"))
      .write.mode("overwrite").parquet(s"$dir/pq")
    def bytes(p: String): Long = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    assert(bytes(s"$dir/pq").toDouble / bytes(s"$dir/f32") < 0.2,
      "PQ codes should store far smaller than floats")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val queries = emb.filter(col("vec_id") < 20)
    val truth = Similarity.knnBrute(emb, queries, k = 10)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val got = Similarity.knnPq(emb, queries, k = 10)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    // 8x16 PQ on 64-dim data is a coarse 8-byte sketch; it must still
    // rank far better than chance (random top-10 of ~500: recall ~0.02)
    assert(recall > 0.2, s"PQ recall $recall not better than chance")
    // the IVF-routed composition returns a subset of the brute-ADC
    // ranking restricted to probed lists — results only from probed
    // candidates, never more than k per query
    val ivfpq = Similarity.ivfSearchPq(emb, queries, k = 10).collect()
    assert(ivfpq.groupBy(_.getLong(0)).values.forall(_.length <= 10))
    val pqRecall = ivfpq.map(r => (r.getLong(0), r.getLong(1))).toSet
      .intersect(truth).size.toDouble / truth.size
    assert(pqRecall > 0.1, s"IVFPQ recall $pqRecall not better than chance")
  }

  test("bigram LM score: hand-computable corpus, null for short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),   // bigrams: (a,b), (b,c)
      (2L, "a b"),     // bigram: (a,b)
      (3L, "a c"),     // bigram: (a,c)
      (4L, "solo")     // no bigrams -> null score
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    // counts: c(a,b)=2 c(a,c)=1 c(b,c)=1; c(a*)=3, c(b*)=1
    val lnAB = math.log(2.0 / 3.0); val lnBC = math.log(1.0); val lnAC = math.log(1.0 / 3.0)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((2L, Some(r6(-(lnAB + lnBC) / 2)))))
    assert(out(2L) == ((1L, Some(r6(-lnAB)))))
    assert(out(3L) == ((1L, Some(r6(-lnAC)))))
    assert(out(4L) == ((0L, None)))
  }

  test("zorder layout: per-partition ranges shrink on BOTH columns vs single-col sort") {
    import spark.implicits._
    val r = new java.util.Random(45)
    val df = (0 until 20000).map(_ => (r.nextDouble() * 1000, r.nextDouble() * 1000))
      .toDF("x", "y")
    def ranges(laid: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val parts = laid
        .select($"x", $"y", spark_partition_id().as("p"))
        .groupBy($"p")
        .agg((max($"x") - min($"x")).as("rx"), (max($"y") - min($"y")).as("ry"))
        .agg(avg($"rx"), avg($"ry")).head()
      (parts.getDouble(0), parts.getDouble(1))
    }
    val byX = df.repartitionByRange(16, $"x").sortWithinPartitions($"x")
    val byZ = ZOrder.zorder(df, Seq("x", "y"), 16)
    val (zx, zy) = ranges(byZ)
    val (sx, sy) = ranges(byX)
    // single-col sort: x ranges tiny, y ranges ~ the full domain.
    // z-order: BOTH dimensions usably narrow (each partition is a small
    // set of z-contiguous hyper-rectangles)
    assert(sy > 900, s"sanity: y unclustered under x-sort ($sy)")
    assert(zy < sy * 0.6, s"zorder y range $zy not narrower than x-sort $sy")
    assert(zx < 600, s"zorder x range $zx should stay usably narrow")
  }

  test("windowFunnel DP matches brute-force exists-chain enumeration (incl. ts ties)") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val steps = Seq("view", "click", "purchase")
    val w = 100L // micros
    val r = new java.util.Random(44)
    val types = Array("view", "click", "purchase", "other")
    val events = (0 until 600).map { i =>
      // coarse ts grid forces plenty of equal-timestamp collisions
      (i % 40L, java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(0, r.nextInt(30) * 10000L * 1000)),
        types(r.nextInt(types.length)))
    }
    val got = Funnel.windowFunnel(events.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", steps, w)
      .collect().map(f => f.user_id -> f.funnel_level).toMap
    // brute force: try every strictly-increasing typed chain
    events.groupBy(_._1).foreach { case (uid, evs) =>
      val byUs = evs.map { e =>
        val inst = e._2.toInstant
        (inst.getEpochSecond * 1000000L + inst.getNano / 1000, e._3)
      }
      def exists(level: Int): Boolean = {
        def extend(chain: List[Long], lvl: Int): Boolean =
          if (lvl == level) true
          else byUs.exists { case (ts, tpe) =>
            tpe == steps(lvl) &&
              (chain.isEmpty || (ts > chain.head && ts - chain.last <= w)) &&
              extend(ts :: chain, lvl + 1)
          }
        extend(Nil, 0)
      }
      val want = (3 to 1 by -1).find(exists).getOrElse(0)
      assert(got(uid) == want, s"user $uid: got ${got(uid)} want $want")
    }
  }

  test("tokenBudgetSelect equals the window-cumsum definition across budgets") {
    import spark.implicits._
    val r = new java.util.Random(59)
    val vocab = Array("the", "a", "of", "alpha", "beta", "gamma", "delta")
    val docs = (0L until 300L).map { id =>
      (id, Seq.fill(r.nextInt(30) + 1)(vocab(r.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    import org.apache.spark.sql.expressions.Window
    for (budget <- Seq(0L, 100L, 1000L, 100000L)) {
      val got = TextAnalysis.tokenBudgetSelect(docs, "doc_id", "text", budget)
        .collect().map(x => x.getLong(0) -> x.getBoolean(3)).toMap
      // the reference: global window cumsum over (quality DESC, id)
      val ref = TextAnalysis.tokenBudgetSelect(docs, "doc_id", "text", Long.MaxValue)
        .withColumn("cum", sum($"n_tokens").over(
          Window.orderBy($"quality".desc, $"doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .collect().map(x => x.getLong(0) -> (x.getAs[Long]("cum") <= budget)).toMap
      assert(got == ref, s"budget $budget: ${got.count(_._2)} vs ${ref.count(_._2)} selected")
    }
  }

  test("piiScrub edge cases: order of passes, dotted-run over-match, counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@x.co now"),          // email with class chars
      (2L, "ip 10.0.200.7 and 999.999.999.999"), // octets unchecked (documented)
      (3L, "ver 1.2.3.4.5 ok"),             // leading 4 octets match
      (4L, "host user@10.0.0.1.example.org"), // email redacts FIRST, no half-IP
      (5L, "clean text")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((1, 0, "mail <EMAIL> now")))
    assert(out(2L) == ((0, 2, "ip <IP> and <IP>")))
    assert(out(3L) == ((0, 1, "ver <IP>.5 ok")))
    // counts audit the ORIGINAL text (the dotted host tail counts as an
    // IP there), but redaction is email-first: the whole address is one
    // <EMAIL>, never a half-rewritten IP inside it
    assert(out(4L) == ((1, 1, "host <EMAIL>")), s"email-first ordering: ${out(4L)}")
    assert(out(5L) == ((0, 0, "clean text")))
  }

  test("sourceMixSample: invalid weights fail fast; quotas realize the mix exactly") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, s"src${i % 2}")).toDF("doc_id", "source")
    intercept[IllegalArgumentException] {
      TextAnalysis.sourceMixSample(docs, "doc_id", "source", Map("src0" -> 0))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.sourceMixSample(docs, "doc_id", "source",
        Map("src0" -> 10), defaultWeight = -1)
    }
    // 50/50 corpus at 3:1 target: budget = floor(100*50/3) = 1666,
    // quotas floor(3*1666/100)=49 and floor(1*1666/100)=16
    val got = TextAnalysis.sourceMixSample(docs, "doc_id", "source",
        Map("src0" -> 3, "src1" -> 1)).collect()
    val bySrc = got.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(bySrc == Map("src0" -> 49, "src1" -> 16), s"quotas: $bySrc")
  }

  test("GIF multi-frame decode: synthetic GIF roundtrips the generator pixels exactly") {
    import spark.implicits._
    val gif = Media.syntheticGif(5L)
    assert(Multimodal.sniffImage(gif))
    val frames = Multimodal.decodeGifFrames(gif).get
    assert(frames.length == 4)
    frames.zipWithIndex.foreach { case (img, f) =>
      assert(img.getWidth == 16 && img.getHeight == 16)
      val luma = Multimodal.lumaPlane(img)
      for (y <- 0 until 16; x <- 0 until 16) {
        val want = ((5L * 7 + f * 41 + x * 13 + y * 31) % 256).toInt
        assert((luma(y * 16 + x) & 0xff) == want, s"frame $f pixel ($x,$y)")
      }
    }
    // the operator takes the GIF path (real frames, luma-plane bytes),
    // and non-GIF payloads still use the byte-slice fallback
    implicit val sp: SparkSession = spark
    val media = Seq((1L, gif), (2L, Array.fill[Byte](64)(7))).toDF("doc_id", "payload")
    val out = Multimodal.sampleFrames(media, frameBytes = 16, stride = 2)
      .collect().groupBy(_.doc_id)
    assert(out(1L).map(_.frame_idx).sorted.toSeq == Seq(0, 2))
    assert(out(1L).forall(_.frame.length == 256))
    assert(out(2L).map(_.frame_idx).sorted.toSeq == Seq(0, 2))
    assert(out(2L).forall(_.frame.length == 16))
  }

  test("knnQuantized: recall vs knnBrute, and the pre-quantized path is identical") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val truth = Similarity.knnBrute(emb, queries, k = 10)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val inline = Similarity.knnQuantized(emb, queries, k = 10)
    val got = inline.select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    // int8 quantization perturbs cosines by <~1%, so the top-10 sets
    // stay close to the float truth (the documented approximation)
    assert(recall > 0.8, s"quantized knn recall too low: $recall")
    // storage path: feeding quantizeInt8 output back in changes nothing
    val pre = Similarity.knnQuantized(Similarity.quantizeInt8(emb), queries,
      k = 10, preQuantized = true)
    assert(pre.orderBy($"qid", $"rank").collect().toSeq ==
      inline.orderBy($"qid", $"rank").collect().toSeq)
  }
}
