package perfbench

import java.nio.file.Paths

import graft.evm.FakeChain

/** The loopback JSON-RPC server must not change what the pipelines
  * write: runs one two-day window through the nine pipelines over
  * `http://` and over the in-process `fake://` transport and compares a
  * digest of every sink's raw rows. Exits 1 on any difference.
  *
  * Usage: `ParityCheck --work DIR [--seed N]` (run by
  * perfbench/test_rpc_parity.py). */
object ParityCheck {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(work, cpus, traced = false)
    val ctx = new Ctx(spark, opts.getOrElse("seed", "0").toLong, "", work)
    val etl = new ChainEtl(cpus)
    etl.startServices(ctx)
    val from = etl.windowStart(ctx.seed, 0)
    val to = from + 2 * etl.perDay - 1
    etl.server.chain.set(new FakeChain(to, etl.blockTime))
    val urls = Seq("http" -> etl.server.url,
      "fake" -> s"fake://chain?tip=$to&blocktime=${etl.blockTime}")
    val digests = urls.map { case (tag, url) =>
      val base = ctx.freshDir(tag)
      val failed = etl.catchUp(spark, base, url, from).filterNot(_.ok)
      require(failed.isEmpty, s"$tag: pipelines failed: ${failed.map(_.name).distinct}")
      tag -> new java.io.File(base).listFiles().map(_.getName).sorted.map { sink =>
        val rows = spark.read.parquet(s"$base/$sink").toJSON.collect().sorted
        val md = java.security.MessageDigest.getInstance("SHA-256")
        rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
        sink -> (rows.length, md.digest().map("%02x".format(_)).mkString)
      }.toMap
    }.toMap
    etl.close()
    spark.stop()
    val sinks = digests("http").keySet ++ digests("fake").keySet
    var same = sinks.size == 9
    sinks.toSeq.sorted.foreach { s =>
      val (h, f) = (digests("http").get(s), digests("fake").get(s))
      val ok = h.isDefined && h == f
      same &&= ok
      println(f"${if (ok) "SAME" else "DIFF"} $s%-22s http=$h fake=$f")
    }
    if (!same) sys.exit(1)
  }
}
