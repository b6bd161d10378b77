package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("listener records output rows and elapsed per action") {
    val l = Metrics.register(spark)
    assert(Metrics.register(spark) eq l, "registration is idempotent")
    val (queries0, rows0, millis0) = (l.queries.sum, l.outputRows.sum, l.elapsedMs.sum)
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .groupBy("o_orderstatus").count()
    df.collect()
    // listener callbacks are async — poll for delivery
    val deadline = System.currentTimeMillis() + 10000
    while (l.queries.sum <= queries0 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(l.queries.sum > queries0)
    assert(l.outputRows.sum - rows0 > 0)
    assert(l.elapsedMs.sum - millis0 >= 0)
  }

  test("throughput summary formats the finalizer metric") {
    val s = Metrics.throughput(PipelineRunner.Result(3, 300, 2.0))
    assert(s.contains("3 batches"))
    assert(s.contains("150.0 items/s"))
  }

  test("prometheus endpoint serves a scrapeable text exposition") {
    Metrics.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet").count()
    val ep = PrometheusEndpoint.start(spark, port = 0)
    try {
      val url = java.net.URI.create(s"http://localhost:${ep.port}/metrics").toURL
      val body = scala.io.Source.fromInputStream(url.openStream()).mkString
      assert(body.contains("# TYPE graft_queries_total counter"))
      assert(body.contains("graft_output_rows_total"))
      val total = body.linesIterator
        .find(_.startsWith("graft_queries_total "))
        .map(_.split(" ").last.toLong)
      assert(total.exists(_ >= 0))
    } finally ep.stop()
  }

  test("refreshing dictionary re-resolves after the TTL lapses") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-dict-ttl")
    val p = dir.resolve("dict.parquet").toString
    def write(sig: String): Unit =
      spark.range(1).select(lit("0xaabbccdd").as("selector"),
        array(lit(sig)).as("fullsigs"))
        .coalesce(1).write.mode("overwrite").parquet(p)
    write("function one()(bool)")
    // generous TTL: the old snapshot must be served within the window
    val pinned = AbiDictionary.refreshing(spark, p,
      minTtlMs = 600000, maxTtlMs = 600000)
    assert(pinned.current().entries("0xaabbccdd") == Seq("function one()(bool)"))
    write("function two()(bool)")
    assert(pinned.current().entries("0xaabbccdd") == Seq("function one()(bool)"))
    // zero TTL: every epoch re-resolves, so the swap is visible
    val expiring = AbiDictionary.refreshing(spark, p,
      minTtlMs = 0, maxTtlMs = 0)
    assert(expiring.current().entries("0xaabbccdd") == Seq("function two()(bool)"))
  }

  test("http parquet dictionary source downloads and loads") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-dict-http")
    spark.range(1).select(lit("0x01020304").as("selector"),
        array(lit("function f()(bool)")).as("fullsigs"))
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("d.parquet").toString)
    val file = java.nio.file.Files.list(dir.resolve("d.parquet")).iterator()
    val part = {
      var found: java.nio.file.Path = null
      while (file.hasNext) { val f = file.next(); if (f.toString.endsWith(".parquet")) found = f }
      found
    }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/dict.parquet", (ex: com.sun.net.httpserver.HttpExchange) => {
      val bytes = java.nio.file.Files.readAllBytes(part)
      ex.sendResponseHeaders(200, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    })
    server.start()
    try {
      val d = AbiDictionary.fromUrl(spark,
        s"http://localhost:${server.getAddress.getPort}/dict.parquet")
      assert(d.entries("0x01020304") == Seq("function f()(bool)"))
    } finally server.stop(0)
  }
}
