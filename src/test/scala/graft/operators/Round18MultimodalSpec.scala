package graft.operators

import graft.fixtures.Media
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-18: the verified affine tiers' survivor-aware gather must be
  * row-identical to the unconditional re-explode it replaces — the
  * threshold only picks the plan, never the rows. Both paths are
  * forced through the private[graft] gather bound of
  * `verifiedPairsFrom` / `affineFramePairsChiralVerifiedFrom`
  * (MaxValue = always pre-filter to survivor docs; 0 = always the
  * round-17 full re-explode). */
class Round18MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
      .sortBy(_.mkString("|"))

  test("verified tier: survivor-filtered gather == unconditional re-explode") {
    implicit val s: SparkSession = spark
    val media = graft.fixtures.Corpora.cropAffinePngs(spark, 60)
    // imageAffineFramePairsVerified(media, maxDf = 500) at a forced
    // gather bound
    def run(gather: Long): Seq[Seq[Any]] = Materialize.scoped {
      rows(Multimodal.verifiedPairsFrom(Materialize.eager(
        Multimodal.ImageAffineFrameAnchored().landmarks(media)),
        0.004, 4, 0.5, 9, 3.0, 500, gather))
    }
    val filtered = run(Long.MaxValue)
    val full = run(0L)
    assert(filtered.nonEmpty, "fixture produced no verified pairs")
    assert(filtered == full)
  }

  test("chiral verified tier: survivor-filtered gather == unconditional re-explode") {
    implicit val s: SparkSession = spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
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
    // imageAffineFramePairsChiralVerified(media, maxDf = 64) at a
    // forced gather bound
    def run(gather: Long): Seq[Seq[Any]] = Materialize.scoped {
      rows(Multimodal.affineFramePairsChiralVerifiedFrom(Materialize.eager(
        Multimodal.ImageAffineFrameAnchored().landmarks(media)),
        0.004, 4, 0.5, 9, 3.0, 64, gather))
    }
    val filtered = run(Long.MaxValue)
    val full = run(0L)
    assert(filtered == full)
  }
}
