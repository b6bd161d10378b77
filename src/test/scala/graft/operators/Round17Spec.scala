package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-17: the nPts=4 affine-frame code experiment's plumbing (the
  * count-first verified tier's tests live in [[AffineFrameSpec]]). */
class Round17Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

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
}
