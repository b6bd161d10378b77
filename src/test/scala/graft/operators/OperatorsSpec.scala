package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.U256

/** Cross-validation of the approximate operators against their exact
  * baselines, plus behavior pins promised in FIXTURES.md §A4. */
class OperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("minhash LSH pairs recover the exact jaccard pairs at j>=0.5") {
    val exact = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.minHashLshPairs(docs, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH must have no false positives after verification")
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall below expected (8 bands x 2 rows)")
  }

  test("SRP-LSH knn results are a subset of brute-force scoring") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.knnBrute(emb, queries, k = 50)
      .select("qid", "vec_id", "cos_sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.knnLsh(emb, queries, k = 5, dim = 64)
      .select("qid", "vec_id", "cos_sim").collect()
    assert(lsh.nonEmpty)
    // every LSH hit's cosine matches the brute-force value exactly
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(c => assert(c == r.getDouble(2)))
    }
  }

  test("zip-explode pins arrays_zip padding semantics on length mismatch") {
    import spark.implicits._
    val df = Seq((Seq("a", "b", "c"), Seq(1, 2))).toDF("xs", "ys")
      .select(explode(arrays_zip(col("xs"), col("ys"))).as("z"))
      .select(col("z.xs"), col("z.ys"))
    val rows = df.collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
    // shorter array pads with null (vs ClickHouse which errors) — pinned
    assert(rows.toSeq == Seq(("a", 1), ("b", 2), ("c", -1)))
  }

  test("simhash of identical token streams has hamming distance 0") {
    import spark.implicits._
    val d = Seq((1L, "spark scale shuffle join"), (2L, "spark scale shuffle join"),
      (3L, "completely different words here")).toDF("doc_id", "text")
    val pairs = TextDedup.simHashPairs(d, "doc_id", "text", maxHamming = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq((1L, 2L, 0)))
  }

  test("language ID prefers en for English-function-word text") {
    import spark.implicits._
    val d = Seq((1L, "the cat sat of the mat and it is a cat"),
      (2L, "der hund ist nicht ein katze und der")).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
  }

  test("sessionize splits on gaps and accumulates exactly") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = Seq(
      (1L, 10L, new java.sql.Timestamp(base), 1.25),
      (1L, 11L, new java.sql.Timestamp(base + 60 * 1000), 2.50), // same session
      (1L, 12L, new java.sql.Timestamp(base + 3 * 3600 * 1000), 4.00), // new session
      (2L, 20L, new java.sql.Timestamp(base), 0.75))
      .toDF("user_id", "event_id", "ts", "value")
    val out = Sessionize.sessions(events, gapSeconds = 1800).collect()
      .map(x => (x.user_id, x.session_seq, x.n_events, x.total_value)).sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq((1L, 0L, 2L, 3.75), (1L, 1L, 1L, 4.0), (2L, 0L, 1L, 0.75)))
  }

  test("daily export partitions by date and resumes past exported days") {
    import graft.pipeline.{PipelineRunner, SinkTable, SqlPipeline}
    val src = java.nio.file.Files.createTempDirectory("graft-exp-src").resolve("sink").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-exp-dst").resolve("out").toString
    // source sink: 3 days of rows
    import spark.implicits._
    val rows = (0 until 6).map { i =>
      (java.sql.Timestamp.valueOf(s"2024-01-0${1 + i / 2} 0$i:00:00"), i.toLong, i * 1.0)
    }.toDF("timestamp", "block_number", "v")
    val sink = SinkTable(src, Seq("block_number"), Some("timestamp"))
    sink.append(rows, 0)
    val dir = SqlPipeline.exampleDir("table_to_daily_parquet_file_spark")
    val vars = Map("SOURCE_PATH" -> src, "SOURCE_KEYS" -> "block_number", "TARGET_PATH" -> dst)
    val defn = SqlPipeline.definition(dir, vars)
    // the per-day batch reads ONLY the yyyyMM partitions covering its day
    // range — a real PartitionFilters entry on the parquet scan, not a
    // post-scan filter (the whole point of deriving _part from the batch)
    val day0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay
    val plan = SqlPipeline.buffer(spark, dir, vars, PipelineRunner.Batch(0, day0, day0))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_part"), plan)
    // tip = yesterday of max(ts) → exports days 1 and 2, withholds day 3
    val r1 = PipelineRunner.run(spark, defn, PipelineRunner.Config(maxBatchSize = 1))
    assert(r1.batches == 2)
    val exported = spark.read.parquet(dst)
    assert(exported.select("date").distinct().count() == 2)
    assert(exported.count() == 4)
    // re-run: nothing new
    val r2 = PipelineRunner.run(spark, defn, PipelineRunner.Config(maxBatchSize = 1))
    assert(r2.batches == 0)
    // crash/retry: re-committing an ALREADY-EXPORTED day must replace its
    // partition, not append a second copy (dynamic partition overwrite —
    // the export analog of the sink's _ingest_seq dedup)
    val redo = PipelineRunner.Batch(0, day0, day0)
    defn.commit(spark, redo, defn.transform(spark, redo))
    val after = spark.read.parquet(dst)
    assert(after.count() == 4, "retried day batch must not duplicate rows")
    assert(after.filter(col("date") === "2024-01-01").count() == 2)
    // ...and only the retried day's partition was touched
    assert(after.select("date").distinct().count() == 2)
  }

  test("sequence packing: distributed prefix sum equals the global-window spec") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // sparse, uneven ids so bucket boundaries are non-trivial
    val docs = (0 until 100).map(i => (i.toLong * 7, ("tok " * (i % 13 + 1)).trim))
      .toDF("doc_id", "text")
    val packed = TextAnalysis.packSequences(docs, "doc_id", "text", 32, buckets = 8)
    val w = org.apache.spark.sql.expressions.Window.orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val spec = docs.select($"doc_id", size(split($"text", " ")).as("n"))
      .withColumn("start_spec", coalesce(sum($"n").over(w), lit(0L)))
    val joined = packed.join(spec, "doc_id")
    assert(joined.filter($"start_token" =!= $"start_spec").count() == 0)
    assert(joined.filter($"chunk_id" =!= ($"start_spec" / 32).cast("long")).count() == 0)
    // sampling membership is a pure function of (seed, id): two runs agree
    val docs2 = docs.withColumn("lang", lit("en"))
    val a = TextAnalysis.stratifiedSample(docs2, "doc_id", "lang", Map("en" -> 0.3))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = TextAnalysis.stratifiedSample(docs2, "doc_id", "lang", Map("en" -> 0.3))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty && a.size < 100)
  }

  test("decontamination: probe docs fully contaminated; kmv estimate is close") {
    import spark.implicits._
    val docs = (0L until 60L).map(i =>
      (i, (0 until 12).map(j => s"w${(i * 7 + j * 3) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.operators.TextDedup.contaminationOverlap(
      docs, "doc_id", "text", docs.filter($"doc_id" < 5), "text")
    // a probe document's own shingles are all in the probe set
    assert(out.filter($"doc_id" < 5)
      .filter($"contaminated_fraction" =!= 1.0).count() == 0)
    assert(out.count() == 60)
    // KMV: ~2000 distinct values, k=64 → estimate within 25% of exact
    val kmv = graft.functions.KmvSketch.kmvDistinct(64)
    val row = spark.range(0, 50000)
      .select((col("id") % 2000).cast("string").as("v"))
      .agg(kmv(col("v")).as("est"), countDistinct(col("v")).as("exact"))
      .head()
    val (est, exact) = (row.getDouble(0), row.getLong(1))
    assert(math.abs(est - exact) / exact < 0.25, s"est=$est exact=$exact")
  }

  test("fused repetition kernel is bit-identical to the exploded relational spec") {
    import spark.implicits._
    // real corpus + adversarial edges: empty text, single token, all-same
    // tokens, exactly-2 and exactly-3 token docs
    val edges = Seq((100001L, ""), (100002L, "solo"), (100003L, "x x x x x x"),
      (100004L, "a b"), (100005L, "a b c"), (100006L, "a b a b a b"))
      .toDF("doc_id", "text")
    val d = docs.select($"doc_id", $"text").union(edges)
    val fused = TextAnalysis.repetitionSignals(d, "doc_id", "text")
    val spec = TextAnalysis.repetitionSignalsExploded(d, "doc_id", "text")
    assert(fused.exceptAll(spec).isEmpty && spec.exceptAll(fused).isEmpty)
    // the fused plan is a pure map: no exchange anywhere
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fused kernel must not shuffle:\n$plan")
  }

  test("asof join: inclusive at equal timestamps, null before first right row") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    def ts(x: Int) = new java.sql.Timestamp(x * 1000L)
    val left = Seq(("A", ts(1), 1L), ("A", ts(5), 2L), ("A", ts(10), 3L),
      ("B", ts(7), 4L)).toDF("k", "t", "row_id")
    val right = Seq(("A", ts(5), 50.0), ("A", ts(8), 80.0))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.asofJoin(left, right, Seq("k"), "t", "rt", Seq("v"))
      .orderBy($"row_id").collect()
    assert(out.map(r => Option(r.getAs[Any]("v"))).toSeq ==
      Seq(None, Some(50.0), Some(80.0), None)) // t=5 matches rt=5 (inclusive)
  }

  test("u256: canonical binary ordering is numeric; arithmetic is mod 2^256") {
    import spark.implicits._
    val big1 = BigInt("115792089237316195423570985008687907853269984665640564039457584007913129639935") // 2^256-1
    val big2 = BigInt("340282366920938463463374607431768211456") // 2^128
    val df = Seq("0x" + big2.toString(16), big1.toString, "1000", "999")
      .toDF("s").select(U256.u256FromString(col("s")).as("u"))
    // native max over binary = numeric max
    val maxRow = df.agg(max(col("u"))).head().getAs[Array[Byte]](0)
    assert(U256.toBigInt(maxRow) == big1)
    val sorted = df.orderBy(col("u")).collect().map(r => U256.toBigInt(r.getAs[Array[Byte]](0)))
    assert(sorted.toSeq == Seq(BigInt(999), BigInt(1000), big2, big1))
    // modular add wraps
    val wrap = Seq((1, 1)).toDF("a", "b")
      .select(U256.u256Add(U256.u256FromString(lit(big1.toString)),
        U256.u256FromLong(lit(1L))).as("w"))
      .head().getAs[Array[Byte]]("w")
    assert(U256.toBigInt(wrap) == BigInt(0))
    // round-trip through decimal string
    val s = Seq(1).toDF("x")
      .select(U256.u256ToString(U256.u256FromString(lit(big1.toString))))
      .head().getString(0)
    assert(s == big1.toString)
    // native codegen'd expressions round-trip 2^255 (the pipeline hot path)
    import graft.functions.HexExpressions.{evmHexDecodeU256N, u256ToStringN}
    val two255 = BigInt(1) << 255
    val n = Seq(1).toDF("x")
      .select(u256ToStringN(evmHexDecodeU256N(lit("0x" + two255.toString(16)))))
      .head().getString(0)
    assert(n == two255.toString)
    // ANSI overflow guard: >256-bit quantities throw, never truncate
    intercept[Exception] {
      Seq(1).toDF("x")
        .select(evmHexDecodeU256N(lit("0x1" + "00" * 32))).head()
    }
  }

  test("ivf seed selection is a bounded plan, never a full-corpus collect") {
    import spark.implicits._
    val corpus = spark.range(0, 1000)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(3)),
          i => (col("id") + i).cast("float")).as("embedding"))
    val plan = Similarity.seedFrame(corpus, 8, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    // orderBy+limit must compile to a top-K (per-partition K, K-row
    // merge) — the driver receives K rows, not the corpus
    assert(plan.contains("TakeOrderedAndProject") || plan.contains("GlobalLimit"), plan)
    // the exact-cosine baseline refuses oversized corpora outright
    intercept[IllegalArgumentException] {
      Similarity.cosineDupPairs(corpus, 0.9, maxRows = 100)
    }
  }

  test("salted join equals the plain join and shuffles on (key, salt)") {
    import spark.implicits._
    val large = spark.range(0, 10000).toDF("k")
      .withColumn("k", when($"k" % 10 < 9, lit(1L)).otherwise($"k")) // 90% hot key
      .withColumn("v", $"k" * 2)
    val small = spark.range(0, 200).toDF("k").withColumn("name", concat(lit("s"), $"k"))
    val salted = graft.operators.Skew.saltedJoin(large, small, "k", salt = 8)
    val plain = large.join(small, Seq("k"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // the join's shuffle key includes the salt column
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), s"expected salted shuffle, got:\n$plan")
  }

  test("cosine LSH dup pairs are a subset of exact pairs; multi-table beats one") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = graft.operators.Similarity.cosineDupPairs(emb, 0.4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val one = graft.operators.Similarity.cosineDupPairsLsh(emb, 0.4, dim = 64, tables = 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val four = graft.operators.Similarity.cosineDupPairsLsh(emb, 0.4, dim = 64, tables = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(one.subsetOf(exact) && four.subsetOf(exact), "no false positives")
    assert(one.subsetOf(four), "tables union only adds candidates")
  }

  test("unigram rarity: hand-computed corpus, ratios exact") {
    import spark.implicits._
    // corpus tf: a=3 (docs 1,2), b=2, c=1 (hapax), d=1 (hapax)
    val tiny = Seq((1L, "a b a c"), (2L, "a b d")).toDF("doc_id", "text")
    val r = TextAnalysis.unigramRarity(tiny, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1: tokens a,b,a,c → tf 3,2,3,1; sum_tf=9, hapax c → 1/4
    assert(r(0).getLong(1) == 4 && r(0).getDouble(2) == 9.0 / 4 &&
      r(0).getDouble(3) == 1.0 / 4 && r(0).getLong(4) == 1L)
    // doc 2: a,b,d → tf 3,2,1; sum_tf=6, hapax d → 1/3
    assert(r(1).getLong(1) == 3 && r(1).getDouble(2) == 2.0 &&
      r(1).getDouble(3) == 1.0 / 3 && r(1).getLong(4) == 1L)
  }

  test("tfidf top terms: rare tokens outrank common, ties break on token") {
    import spark.implicits._
    val tiny = Seq((1L, "x x common rare"), (2L, "common common y")).toDF("doc_id", "text")
    val r = TextAnalysis.tfidfTopTerms(tiny, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank").collect()
    // doc 1: x tf=2 df=1 score=4; rare tf=1 df=1 score=2; common tf=1 df=2 score=1
    assert(r(0).getString(1) == "x" && r(0).getDouble(4) == 4.0)
    assert(r(1).getString(1) == "rare" && r(1).getDouble(4) == 2.0)
    // doc 2: common tf=2 df=2 score=2; y tf=1 df=1 score=2 — tie, token order
    assert(r(2).getString(1) == "common" && r(3).getString(1) == "y")
    assert(r.forall(_.getInt(5) <= 2))
  }

  test("dup substring coverage: overlapping windows merge, within-doc repeats count") {
    import spark.implicits._
    val nine = "a b c d e f g h i" // 9-token run shared by docs 1 and 2
    val tiny = Seq(
      (1L, s"$nine x1 x2 x3"),          // 12 tokens, covered 0..8 → 9/12
      (2L, s"y1 $nine"),                // 10 tokens, covered 1..9 → 9/10
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8 m1 m2 m3 m4 m5 m6 m7 m8"), // self-repeat → 16/16
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"), // unique → 0
      (5L, "short doc")                  // < k tokens → 0 windows, 0 coverage
    ).toDF("doc_id", "text")
    val r = TextDedup.dupSubstringCoverage(tiny, "doc_id", "text", 8)
      .orderBy("doc_id").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq == Seq(
      (1L, 12L, 9L), (2L, 10L, 9L), (3L, 16L, 16L), (4L, 9L, 0L), (5L, 2L, 0L)))
    assert(r(0).getDouble(3) == 9.0 / 12 && r(2).getDouble(3) == 1.0)
  }

  test("bpe pretokenizer: contractions, digits, punctuation split as GPT-2-shaped runs") {
    import spark.implicits._
    val tiny = Seq((1L, "don't stop, now 42!")).toDF("doc_id", "text")
    val r = TextAnalysis.bpePretokenStats(tiny, "doc_id", "text").collect()(0)
    // pretokens: don / 't / ( stop) / , / ( now) / ( 42) / !  → 7
    assert(r.getInt(1) == 7 && r.getInt(2) == 7)
    assert(r.getDouble(3) == 19.0 / 7)
  }

  test("ivf k-means training monotonically reduces quantization cost") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (cents, costs) = graft.operators.Similarity.ivfTrain(emb, k = 8, iters = 4)
    assert(cents.length == 8 && cents.head.length == 64)
    assert(costs.size == 4)
    costs.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-9,
      s"Lloyd cost must not increase: $costs") }
    assert(costs.last < costs.head, s"training should improve cost: $costs")
  }
}
