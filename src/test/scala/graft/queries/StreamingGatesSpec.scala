package graft.queries

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Runs one st gate per stream-harness shape through the driver entry
  * (`SparkEntry.queries`) and pins its sorted-row digest: file copies
  * plus a single drain (st65), DataFrame staging (st86), five-file
  * staging (st88), media staging with the share vote scorer (st89),
  * the count vote scorer (st90) and a two-query drain (st121). */
class StreamingGatesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  /** sha-256 over the rows rendered one per line, sorted (the pinned
    * gates output scalar columns only). */
  private def digest(rows: Array[Row]): String = {
    val text = rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private val pinned = Seq(
    "st65_stream_dedup" ->
      "ddff590f8571020ccd1e3f638469e1cf76b36454c67855bb4962d827e1b53345",
    "st86_stream_confusable_dedup" ->
      "cfc15263921abac02745c83c3038e41549a2a0539be9f614525c21f9318070fd",
    "st88_stream_dedup_watermark" ->
      "878b92147236571f97411f75425074c3e389724a8fd418b6d840213cc8598f0a",
    "st89_stream_onset_landmark_dedup" ->
      "2e88685cc302df8e32dc23a7980117beb8774073d1d42c25a141c97fd2401d39",
    "st90_stream_winnow_dedup" ->
      "46c66c522264227c0aadf4c3092a3e08c1639e91aa65d7f906af0908bb30a509",
    "st121_stream_joint_index_screen" ->
      "27847cc6d14fbd822457cf0ccf1c60fbcc2abd4b8e025a14f0900f8407f48bf4")

  pinned.foreach { case (gate, expected) =>
    test(s"$gate rows match the pinned digest") {
      val rows = graft.SparkEntry.queries(gate)(spark, sf).collect()
      assert(rows.nonEmpty)
      val got = digest(rows)
      assert(got == expected, s"$gate: ${rows.length} rows, digest $got")
    }
  }
}
