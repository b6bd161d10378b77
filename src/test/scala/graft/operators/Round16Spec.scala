package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal.{ImageAffineFrame,
  ImageAffineFrameAnchored, ImagePeak, VideoAffineFrame,
  VideoAffineFrameAnchored}

/** Round-16: scoped release for Materialize.eager checkpoints (the
  * mechanism behind two rounds of bench drift), and the one-decode
  * composition of the affine-frame code + verified tiers. */
class Round16Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("Materialize.scoped releases eager checkpoint blocks at scope exit") {
    val s = spark
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val result = Materialize.scoped {
      val mat = Materialize.eager(
        s.range(0, 10000).select(col("id"), (col("id") % 7).as("k")))
      // the checkpoint is live and readable inside the scope — two
      // consumers, the multi-consumer contract eager exists for
      assert(mat.count() == 10000)
      mat.groupBy(col("k")).agg(count(lit(1)).as("n")).count()
    }
    assert(result == 7)
    // scope exit released the checkpointed RDD: nothing new persists
    // (unpersist is async with blocking=false at the REMOVAL layer, but
    // the persistentRdds registry drop itself is synchronous)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
  }

  test("unscoped eager keeps today's GC-driven lifetime (blocks stay)") {
    val s = spark
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val mat = Materialize.eager(s.range(0, 1000).toDF())
    assert(mat.count() == 1000)
    val added = (sc.getPersistentRDDs.keySet -- before).toSeq
    assert(added.nonEmpty, "unscoped eager must still persist its blocks")
    // still readable — no scope, no release
    assert(mat.count() == 1000)
    added.foreach(id => sc.getPersistentRDDs.get(id)
      .foreach(_.unpersist(blocking = true)))
  }

  test("scopes nest: inner releases its own, outer's survive the inner exit") {
    val s = spark
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Materialize.scoped {
      val outer = Materialize.eager(s.range(0, 500).toDF())
      val innerIds = Materialize.scoped {
        val inner = Materialize.eager(s.range(0, 200).toDF())
        assert(inner.count() == 200)
        sc.getPersistentRDDs.keySet -- before
      }
      // the inner scope's checkpoint is gone; the outer's is still
      // live and readable
      assert((sc.getPersistentRDDs.keySet -- before).size < innerIds.size)
      assert(outer.count() == 500)
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("scope releases on failure too") {
    val s = spark
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    intercept[IllegalStateException] {
      Materialize.scoped {
        Materialize.eager(s.range(0, 100).toDF()).count()
        throw new IllegalStateException("boom")
      }
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("solveDfCap: largest cap whose DROPPED-pair explode fits the budget") {
    val s = spark
    import s.implicits._
    // known df distribution: 10 codes at df 2, 4 codes at df 3, 1 code
    // at df 10 -> cumulative pair rows: cap 2 = 10*2^2/2 = 20,
    // cap 3 = 20 + 4*3^2/2 = 38, cap 10 = 38 + 10^2/2 = 88
    val rows = (0 until 10).flatMap(c => (0 until 2).map(d => (d.toLong, s"a$c"))) ++
      (0 until 4).flatMap(c => (0 until 3).map(d => (d.toLong, s"b$c"))) ++
      (0 until 10).map(d => (d.toLong, "hot"))
    val lms = rows.toDF("doc_id", "lm")
    // width 16 B: budget 38*16=608 admits cap 3, not the df-10 code
    assert(Multimodal.solveDfCap(lms, 16, 608L) == 3)
    // one byte under: cap 3's own cohort no longer fits -> cap 2
    assert(Multimodal.solveDfCap(lms, 16, 607L) == 2)
    // everything fits -> the largest OBSERVED df (uncapped in effect)
    assert(Multimodal.solveDfCap(lms, 16, 88L * 16) == 10)
    // nothing fits -> floor of 2, never a cap the budget can't hold
    assert(Multimodal.solveDfCap(lms, 16, 100L) == 2)
    // no pairable code at all -> 0 (uncapped trivially)
    assert(Multimodal.solveDfCap(
      Seq((1L, "x"), (2L, "y")).toDF("doc_id", "lm"), 16, 1000L) == 0)
  }

  test("solveDfCap: geometric bins above the exact pivot solve exactly at bin maxima") {
    val s = spark
    import s.implicits._
    // one hot code at df 5000 (> pivot 4096) + 5 codes at df 2:
    // cost(2) = 5*2 = 10 pairs; cost(5000) = 10 + 5000^2/2
    val rows = (0 until 5000).map(d => (d.toLong, "hot")) ++
      (0 until 5).flatMap(c => (0 until 2).map(d => (d.toLong, s"c$c")))
    val lms = rows.toDF("doc_id", "lm")
    assert(Multimodal.solveDfCap(lms, 16, 10L * 16) == 2)
    val full = (10L + 5000L * 5000L / 2) * 16
    assert(Multimodal.solveDfCap(lms, 16, full) == 5000)
    assert(Multimodal.solveDfCap(lms, 16, full - 16) == 2)
  }

  test("maxDf = AutoDf reproduces the explicit-cap result and self-reports drops") {
    val s = spark
    import s.implicits._
    implicit val sp: SparkSession = s
    // Round14Spec's hot-code fixture: 10 copies of X (every X code df
    // 10), 2 copies of Y (df 2) — a generous budget keeps everything
    // (45 X pairs + the Y pair), a tight one drops the X codes
    val media = s.range(0, 12).map { id =>
      val payload =
        if (id < 10) Media.syntheticPng(0L)
        else Media.syntheticPng(999L)
      (id, payload)
    }.toDF("doc_id", "payload")
    val generous = Multimodal.pairs(ImagePeak())(media, minMatch = 0.6,
      maxDf = Multimodal.AutoDf)
    val wasBudget = s.conf.getOption(Multimodal.PairBudgetConf)
    try {
      assert(generous.count() == 46)
      val acc = Multimodal.hotCodesDropped(s)
      val before = acc.value
      // per-code pair rows at df 10 = 50/code x width 16 = 800 B — a
      // 512 B budget can't hold even ONE X code's cohort, so the
      // solver lands at (or floors to) cap 2: X dropped, Y kept
      s.conf.set(Multimodal.PairBudgetConf, "512")
      val tight = Multimodal.pairs(ImagePeak())(media, minMatch = 0.6,
        maxDf = Multimodal.AutoDf).orderBy("doc_a", "doc_b").collect()
      assert(tight.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((10L, 11L)))
      assert(acc.value > before, "solved cap must self-report drops")
    } finally {
      wasBudget match {
        case Some(v) => s.conf.set(Multimodal.PairBudgetConf, v)
        case None => s.conf.unset(Multimodal.PairBudgetConf)
      }
    }
  }

  test("one-decode tiers == two-decode paths, bit-identical (image)") {
    val s = spark
    implicit val sp: SparkSession = s
    // the m185/m186 fixture class at toy size: 50 docs, every 10th a
    // planted crop x rotation x squeeze re-upload of doc_id-9
    val media = graft.fixtures.Corpora.cropAffinePngs(s, 50)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_a", "doc_b").collect().toSeq
    // one anchored decode scored by both tiers (the m192 composition)
    val anchored = Materialize.eager(
      ImageAffineFrameAnchored().landmarks(media))
    val code = ImageAffineFrame().scores(
      anchored.select(col("doc_id"), col("lm")), maxDf = 500)
    val verified = ImageAffineFrameAnchored().scores(anchored, maxDf = 500)
    assert(sorted(code) ==
      sorted(Multimodal.pairs(ImageAffineFrame())(media, maxDf = 500)))
    assert(sorted(verified) ==
      sorted(Multimodal.pairs(ImageAffineFrameAnchored())(media, maxDf = 500)))
    // and the tier pair actually found the planted dups (non-vacuous)
    assert(sorted(verified).nonEmpty)
  }

  test("one-decode tiers == two-decode paths, bit-identical (video)") {
    val s = spark
    import s.implicits._
    implicit val sp: SparkSession = s
    // m177-shaped fixture: 4 video masters + 1 crop x rotate re-rip
    val mk = (id: Long) => Media.syntheticAviBlobs(id, 6, 192, 192, 18, 22.0)
    val probe = Media.aviCropResizeDib(Media.aviRotateResizeDib(
      Media.aviCropResizeDib(mk(0), 24, 24, 168, 168, 192, 192),
      17.0), 0, 0, 192, 192, 137, 192, 0)
    val media = s.range(0, 5).map(id =>
      (id, if (id == 4L) probe else mk(id))).toDF("doc_id", "payload")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_a", "doc_b").collect().toSeq
    val anchored = Materialize.eager(
      VideoAffineFrameAnchored().landmarks(media))
    val code = VideoAffineFrame().scores(
      anchored.select(col("doc_id"), col("lm")))
    val verified = VideoAffineFrameAnchored().scores(anchored)
    assert(sorted(code) == sorted(Multimodal.pairs(VideoAffineFrame())(media)))
    assert(sorted(verified) ==
      sorted(Multimodal.pairs(VideoAffineFrameAnchored())(media)))
  }

  test("concurrent scopes are thread-isolated: one lane's exit never drops a peer's blocks") {
    val s = spark
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // lane A holds its checkpoint across lane B's full scoped lifetime,
    // then reads it — the failure mode a getPersistentRDDs-diff release
    // would hit (B's exit would release A's interleaved checkpoint and
    // A's re-read would fail on truncated lineage)
    val aReady = new java.util.concurrent.CountDownLatch(1)
    val bDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var aCount = 0L
    @volatile var err: Throwable = null
    val a = new Thread(() => {
      try Materialize.scoped {
        val mat = Materialize.eager(s.range(0, 3000).toDF())
        aReady.countDown()
        bDone.await(30, java.util.concurrent.TimeUnit.SECONDS)
        aCount = mat.count() // reads AFTER b's scope exited
      } catch { case t: Throwable => err = t; aReady.countDown() }
    })
    val b = new Thread(() => {
      try {
        aReady.await(30, java.util.concurrent.TimeUnit.SECONDS)
        Materialize.scoped {
          Materialize.eager(s.range(0, 100).toDF()).count()
        }
      } catch { case t: Throwable => err = t }
      finally bDone.countDown()
    })
    a.start(); b.start(); a.join(60000); b.join(60000)
    assert(err == null, s"lane failed: $err")
    assert(aCount == 3000)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
