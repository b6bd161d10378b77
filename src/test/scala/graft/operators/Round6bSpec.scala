package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 late-addition gates: sequenceMatch/Count greedy optimality
  * against a choice-DP reference, pinned-layout HLL accuracy and
  * partition-invariance, and paragraph-dedup keep-first semantics. */
class Round6bSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("sequenceMatchCount equals the optimal choice-DP packing (random sweep with ts ties)") {
    import spark.implicits._
    val steps = Seq("v", "c", "p")
    val r = new java.util.Random(614)
    // small ts range forces tie groups; extra type "x" adds noise
    val types = Array("v", "c", "p", "x")
    val events = (0L until 40L).flatMap { uid =>
      (0 until r.nextInt(18) + 1).map { _ =>
        (uid, (r.nextInt(8) + 1).toLong, types(r.nextInt(types.length)))
      }
    }
    val df = events.toDF("user_id", "us", "event_type")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("event_type"))
    implicit val s: SparkSession = spark
    val got = Funnel.sequenceMatchCount(df, "user_id", "ts", "event_type", steps)
      .collect().map(x => x.user_id -> x.seq_count).toMap

    // reference: per user, per-ts bitmask groups in ts order, then a DP
    // that may CHOOSE to skip an advance — greedy must equal its max
    for (uid <- 0L until 40L) {
      val groups = events.filter(_._1 == uid).groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (_, es) =>
          es.map(e => steps.indexOf(e._3)).filter(_ >= 0).toSet
        }
      val memo = collection.mutable.Map.empty[(Int, Int), Int]
      def rec(pos: Int, lvl: Int): Int = memo.getOrElseUpdate((pos, lvl), {
        if (pos == groups.length) 0
        else {
          val skip = rec(pos + 1, lvl)
          if (groups(pos).contains(lvl)) {
            val adv =
              if (lvl == steps.length - 1) 1 + rec(pos + 1, 0)
              else rec(pos + 1, lvl + 1)
            math.max(skip, adv)
          } else skip
        }
      })
      assert(got(uid) == rec(0, 0), s"user $uid: greedy ${got(uid)} != dp ${rec(0, 0)}")
    }
  }

  test("HLL: accuracy within 3 sigma, linear-counting branch, partition-invariant") {
    import spark.implicits._
    val hll = graft.functions.HllSketch.hllDistinct

    def run(n: Int, partitions: Int): Double =
      (1 to n).map(i => s"val_$i").toDF("v").repartition(partitions)
        .agg(hll(col("v")).as("est")).collect()(0).getDouble(0)

    // 4096 registers -> relative standard error ~1.04/sqrt(4096) = 1.6%
    val big = run(50000, 8)
    assert(math.abs(big - 50000) / 50000.0 < 0.05, s"50k est $big")
    // small cardinality takes the linear-counting branch (tighter)
    val small = run(300, 4)
    assert(math.abs(small - 300) / 300.0 < 0.05, s"300 est $small")
    // pinned layout: estimate must be IDENTICAL across partitionings
    assert(run(5000, 1) == run(5000, 7), "partitioning changed the estimate")

    // slot sanity: bucket in range, rho in [1, 53]
    val (j, rho) = graft.functions.HllSketch.slot(0x0123456789abcdefL)
    assert(j >= 0 && j < graft.functions.HllSketch.M && rho >= 1 && rho <= 53)
    assert(graft.functions.HllSketch.slot(0L) == ((0, 53)))
  }

  test("groupWeightedQuantileBinned equals the window path (random sweep, ties, edge p)") {
    import spark.implicits._
    val r = new java.util.Random(477)
    // heavy value ties + skewed weights, three keys, some weight-0 and
    // null rows that both paths must drop
    val rows = (0 until 4000).map { i =>
      val k = s"k${i % 3}"
      val v: java.lang.Double = if (i % 97 == 0) null else (r.nextInt(40) / 4.0)
      (k, v, r.nextInt(5).toLong) // weight 0 rows exist
    }
    val df = rows.toDF("k", "v", "w")
    for (p <- Seq(0.0, 0.25, 0.5, 0.9, 1.0)) {
      val win = ExactQuantile.groupWeightedQuantile(df, "k", "v", "w", p, "q")
        .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
      val bin = ExactQuantile.groupWeightedQuantileBinned(df, "k", "v", "w", p, "q")
        .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
      assert(bin == win, s"p=$p: binned $bin != window $win")
    }
  }

  test("HLL rollup identity: merged per-group registers == direct global sketch") {
    import spark.implicits._
    val df = (1 to 3000).map(i => (s"g${i % 5}", s"val_${i % 1100}")).toDF("g", "v")
    val direct = df.agg(graft.functions.HllSketch.hllDistinct(col("v")))
      .collect()(0).getDouble(0)
    val rolled = df.groupBy(col("g"))
      .agg(graft.functions.HllSketch.hllRegisters(col("v")).as("regs"))
      .agg(graft.functions.HllSketch.hllMerge(col("regs")))
      .collect()(0).getDouble(0)
    assert(rolled == direct, s"rollup $rolled != direct $direct")
    // malformed blob rejected
    val bad = intercept[Exception] {
      Seq(Array[Byte](1, 2, 3)).toDF("regs")
        .agg(graft.functions.HllSketch.hllMerge(col("regs"))).collect()
    }
    assert(bad.getMessage.contains("register blob") ||
      bad.getCause != null, "expected blob-size failure")
  }

  test("WAV decode: synthetic roundtrip, extra chunks + stereo, malformed rejected") {
    // roundtrip: the parser recovers the generator samples bit-for-bit
    val p = Media.syntheticWav(7L, 100)
    val w = Multimodal.decodeWav(p).get
    assert(w.sampleRate == 8000 && w.channels == 1 && w.samples.length == 100)
    (0 until 100).foreach { n =>
      assert(w.samples(n) == ((7L * 31 + n.toLong * 197) % 65536L - 32768L).toShort)
    }

    // chunk walker: a LIST chunk between fmt and data is skipped; a
    // stereo 16-bit stream parses with interleaved samples intact
    val bos = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    val samples = Array[Short](10, -20, 30, -40) // 2 frames x 2 channels
    ascii("RIFF"); le32(4 + 24 + 12 + 8 + samples.length * 2); ascii("WAVE")
    ascii("fmt "); le32(16); le16(1); le16(2); le32(44100); le32(44100 * 4); le16(4); le16(16)
    ascii("LIST"); le32(4); ascii("INFO") // extra chunk the walker must skip
    ascii("data"); le32(samples.length * 2); samples.foreach(v => le16(v & 0xffff))
    val st = Multimodal.decodeWav(bos.toByteArray).get
    assert(st.sampleRate == 44100 && st.channels == 2)
    assert(st.samples.toSeq == samples.toSeq)

    // rejection: text bytes, truncated header, oversized chunk length
    assert(Multimodal.decodeWav("not a wav at all, just text bytes....".getBytes).isEmpty)
    assert(Multimodal.decodeWav(p.take(40)).isEmpty)
    val bad = p.clone(); bad(40) = 0x7f.toByte; bad(41) = 0x7f.toByte // data size > file
    assert(Multimodal.decodeWav(bad).isEmpty)
  }

  test("diversitySelect: per-cluster quota exact, kept set is the farthest points") {
    import spark.implicits._
    val r = new java.util.Random(544)
    val emb = (0L until 200L).map(id =>
      (id, Seq.fill(8)(r.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val out = Similarity.diversitySelect(emb, keepFrac = 0.5, k = 4).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3), x.getBoolean(4)))
    out.groupBy(_._2).foreach { case (cid, rows) =>
      val kept = rows.filter(_._5)
      assert(kept.length == math.ceil(0.5 * rows.length).toLong,
        s"cluster $cid quota: ${kept.length} of ${rows.length}")
      val minKept = kept.map(_._3).min
      val dropped = rows.filterNot(_._5)
      // ties broken by vec_id, so dropped distances never EXCEED kept
      if (dropped.nonEmpty)
        assert(dropped.map(_._3).max <= minKept, s"cluster $cid: dropped a farther point")
      // ranks are 1..n without gaps
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq)
    }
    assert(out.count(_._5) < out.length) // something was actually dropped
  }

  test("fuzzyKeyPairs finds EXACTLY the edit-distance<=1 pairs (brute-force sweep)") {
    import spark.implicits._
    val r = new java.util.Random(631)
    val alpha = "abcd" // tiny alphabet forces plenty of near-misses
    val keys = (0L until 120L).map { id =>
      (id, Seq.fill(r.nextInt(4) + 2)(alpha(r.nextInt(alpha.length))).mkString)
    }
    val got = TextDedup.fuzzyKeyPairs(keys.toDF("doc_id", "key"), "doc_id", "key")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    def ed(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, ka) <- keys; (ib, kb) <- keys
      if ia < ib && ed(ka, kb) <= 1
    } yield (ia, ib)).toSet
    assert(got == want, s"missing ${want -- got}, extra ${got -- want}")
    assert(want.nonEmpty) // the sweep actually exercised matches
  }

  test("bpeMergeRules: hand corpus pins counts, tie-break, and replace semantics") {
    import spark.implicits._
    // round 1: (a,b) appears 3x -> merge. The two occurrences in doc 0
    // SHARE a boundary space, so leftmost non-overlapping replace
    // merges only the first ("a_b a b c") — round 2 finds (a,b) again
    // and the all-ties rank picks it by token order; round 3 then sees
    // the doubled merge ("a_b a_b c") and learns (a_b, a_b).
    val docs = Seq((0L, "a b a b c"), (1L, "a b x")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMergeRules(docs, "text", merges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, "a", "b", 3L), (2, "a", "b", 1L),
      (3, "a_b", "a_b", 1L)), got.toSeq.toString)
    // non-word tokens refuse rather than risk expression injection
    val bad = intercept[IllegalArgumentException] {
      Seq((0L, "x' y x' y x' y")).toDF("doc_id", "text").transform(d =>
        TextAnalysis.bpeMergeRules(d, "text", merges = 1))
    }
    assert(bad.getMessage.contains("word-character"))
  }

  test("paragraphDedup matches a brute-force keep-first reference (random sweep)") {
    import spark.implicits._
    val r = new java.util.Random(611)
    val vocab = Array("p", "q", "r") // tiny vocab -> many real block dups
    val docs = (0L until 80L).map { id =>
      (id, Seq.fill(r.nextInt(10) + 1)(vocab(r.nextInt(vocab.length))).mkString(" "))
    }
    val w = 3
    val got = TextDedup.paragraphDedup(docs.toDF("doc_id", "text"), "doc_id", "text", w)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    // reference: first corpus occurrence in (doc_id, block idx) order wins
    val seen = collection.mutable.Set.empty[String]
    val want = docs.map { case (id, text) =>
      val blocks = text.split(" ").grouped(w).map(_.mkString(" ")).toSeq
      val kept = blocks.filter(b => seen.add(b))
      id -> ((blocks.length.toLong, kept.length.toLong, kept.mkString(" ")))
    }.toMap
    assert(got == want)
    assert(want.values.exists(v => v._1 != v._2)) // dups actually removed
  }

  test("paragraphDedup: keep-first block rule, tail blocks, fully-removed docs") {
    import spark.implicits._
    // 3-token blocks: doc 0 = [A][B], doc 1 = [A][C], doc 2 = [A] — A
    // survives only in doc 0; doc 2 empties out entirely
    val a = "a1 a2 a3"; val b = "b1 b2 b3"; val c = "c1 c2 c3"
    val docs = Seq(
      (0L, s"$a $b"),
      (1L, s"$a $c"),
      (2L, a),
      (3L, "t1 t2 t3 t4") // tail block [t4] is its own block, kept
    ).toDF("doc_id", "text")
    val got = TextDedup.paragraphDedup(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) == ((2L, 2L, s"$a $b")))
    assert(got(1L) == ((2L, 1L, c)))
    assert(got(2L) == ((1L, 0L, "")))
    assert(got(3L) == ((2L, 2L, "t1 t2 t3 t4")))
  }
}
