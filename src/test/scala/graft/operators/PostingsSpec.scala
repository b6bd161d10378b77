package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The posting-list core every pair scorer and index screen sits on:
  * the triangular pair generator against a brute-force nested loop,
  * both semantics of the pre-aggregation df cap, and the verdict
  * tail's one-row-per-probe contract. */
class PostingsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Every (l(i), l(j)), i < j, of the sorted list: the reference the
    * generator must reproduce as a multiset. */
  private def bruteForce[T](l: Seq[T])(implicit o: Ordering[T]): Seq[(T, T)] = {
    val s = l.sorted
    for (i <- s.indices; j <- s.indices if i < j) yield (s(i), s(j))
  }

  private def multiset[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  test("pairs equals a brute-force nested loop on random id lists with duplicates") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // sizes 0..40 each at least once; ids from a small range, so lists
    // hold duplicates
    val lists = (0 to 40).map(n => Seq.fill(n)(rnd.nextInt(12).toLong)) ++
      Seq.fill(20)(Seq.fill(rnd.nextInt(41))(rnd.nextInt(6).toLong))
    val df = lists.zipWithIndex.toDF("ds", "k")
    val got = df.select(col("k"), explode(Postings.pairs(col("ds"))).as("p"))
      .select(col("k"), col("p.a"), col("p.b")).as[(Int, Long, Long)]
      .collect().toSeq.groupBy(_._1)
    lists.zipWithIndex.foreach { case (l, k) =>
      val mine = got.getOrElse(k, Nil).map(r => (r._2, r._3))
      assert(multiset(mine) == multiset(bruteForce(l)), s"list $k: $l")
    }
  }

  test("pairs over struct entries sorts by the whole struct") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val lists = (0 to 40 by 4).map(n =>
      Seq.fill(n)((rnd.nextInt(8).toLong, rnd.nextInt(3))))
    val df = lists.zipWithIndex.toDF("ds", "k")
      .select(col("k"), transform(col("ds"), x => struct(
        x.getField("_1").as("doc_id"), x.getField("_2").as("orient"))).as("ds"))
    val got = df.select(col("k"), explode(Postings.pairs(col("ds"))).as("p"))
      .select(col("k"), col("p.a.doc_id"), col("p.a.orient"),
        col("p.b.doc_id"), col("p.b.orient"))
      .as[(Int, Long, Int, Long, Int)].collect().toSeq.groupBy(_._1)
    lists.zipWithIndex.foreach { case (l, k) =>
      val mine = got.getOrElse(k, Nil).map(r => ((r._2, r._3), (r._4, r._5)))
      assert(multiset(mine) == multiset(bruteForce(l)), s"list $k: $l")
    }
  }

  test("capDf counts rows or distinct docs, and is off at maxDf <= 0") {
    val s = spark
    import s.implicits._
    // key 1: docs 1, 2 with 3 orientations each (6 rows, 2 docs);
    // key 2: docs 1..4 once each (4 rows, 4 docs)
    val rows = ((for (d <- 1L to 2L; o <- 0 until 3) yield (d, o, 1L)) ++
      (1L to 4L).map(d => (d, 0, 2L))).toDF("doc_id", "orient", "lm")
    def keys(df: DataFrame): Set[Long] =
      df.select("lm").distinct().as[Long].collect().toSet
    assert(keys(Postings.capDf(rows, Seq("lm"), 5)) == Set(2L))
    assert(keys(Postings.capDf(rows, Seq("lm"), 3, distinctDocs = true)) ==
      Set(1L))
    assert(keys(Postings.capDf(rows, Seq("lm"), 4, distinctDocs = true)) ==
      Set(1L, 2L))
    // kept keys keep every row, orientations included
    assert(Postings.capDf(rows, Seq("lm"), 3, distinctDocs = true).count() == 6)
    assert(Postings.capDf(rows, Seq("lm"), 0) eq rows)
    assert(Postings.capDf(rows, Seq("lm"), -2, distinctDocs = true) eq rows)
    // AutoDf is not "uncapped": capDf cannot solve a cap, so it throws
    val e = intercept[IllegalArgumentException](
      Postings.capDf(rows, Seq("lm"), Multimodal.AutoDf))
    assert(e.getMessage.contains("AutoDf"))
  }

  test("maxDf = AutoDf fails fast on every family scored through capDf") {
    val s = spark
    import s.implicits._
    import Multimodal.{AudioCode, AudioLandmark, AutoDf, PHash, Paired,
      PeakLossy, VideoFrames}
    val noMedia = Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload")
    // aligned audio code, audio landmark, pHash chunk, peak descriptor
    // and video chunk scorers: none calls resolveDfCap, so before the
    // capDf guard each ran silently uncapped on AutoDf
    val families: Seq[Paired] =
      Seq(AudioCode, AudioLandmark(), PHash, PeakLossy(), VideoFrames())
    for (f <- families) {
      val e = intercept[IllegalArgumentException](
        Multimodal.pairs(f)(noMedia, maxDf = AutoDf))
      assert(e.getMessage.contains("AutoDf"), s"$f: ${e.getMessage}")
    }
  }

  test("verdicts: one row per probe; a probe with no match is kept") {
    val s = spark
    import s.implicits._
    val probes = Seq(1L, 2L, 3L).toDF("doc_id")
    val dup = Seq((2L, 7L)).toDF("doc_id", "dup_src")
    val out = Postings.verdicts(probes, dup)
    assert(out.columns.toSeq == Seq("doc_id", "kept", "dup_src"))
    val rows = out.as[(Long, Boolean, Option[Long])].collect()
      .sortBy(_._1).toSeq
    assert(rows == Seq((1L, true, None), (2L, false, Some(7L)),
      (3L, true, None)))
    // the id column name follows the probe table
    val v = Postings.verdicts(Seq(5L).toDF("vec_id"),
      Seq.empty[(Long, Long)].toDF("vec_id", "dup_src"))
    assert(v.columns.toSeq == Seq("vec_id", "kept", "dup_src"))
    assert(v.as[(Long, Boolean, Option[Long])].collect().toSeq ==
      Seq((5L, true, None)))
  }
}
