package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}
import graft.evm.Hex

/** ABI-decoding dictionary (examples/ethereum_decoded_logs/
  * create_evm_abi_decoding_dictionary.sql:1-8): selector ("0x…" hex of
  * topic0 or 4-byte selector) → candidate fullsigs. Loaded driver-side
  * and broadcast — the Spark analog of layout(hashed()) + dictGet. */
final case class AbiDictionary(entries: Map[String, Seq[String]]) {
  def lookupUdf(spark: SparkSession): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(entries)
    udf((selector: Array[Byte]) =>
      if (selector == null) Seq.empty[String]
      else bc.value.getOrElse(Hex.encode(selector), Seq.empty[String]))
  }
}

object AbiDictionary {
  /** Parquet dictionary source (schema selector/fullsigs). */
  def fromParquet(spark: SparkSession, path: String): AbiDictionary =
    AbiDictionary(spark.read.parquet(path)
      .select(col("selector"), col("fullsigs"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
      .toMap)

  /** HTTP(S) parquet dictionary source — the reference's
    * `source(http(url … format 'Parquet'))`
    * (examples/ethereum_decoded_logs/
    * create_evm_abi_decoding_dictionary.sql:6-7): download to a local
    * temp file, then read. file:// and bare paths load directly. */
  def fromUrl(spark: SparkSession, url: String): AbiDictionary =
    if (url.startsWith("http://") || url.startsWith("https://")) {
      val tmp = java.nio.file.Files.createTempFile("graft-dict", ".parquet")
      val in = java.net.URI.create(url).toURL.openStream()
      try java.nio.file.Files.copy(in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      try fromParquet(spark, tmp.toString)
      finally java.nio.file.Files.deleteIfExists(tmp)
    } else fromParquet(spark, url.stripPrefix("file://"))

  /** TTL-refreshed dictionary handle — the `lifetime(min X max Y)`
    * clause: `current()` re-resolves the source when the TTL lapses
    * between batch epochs; within a window every lookup sees one
    * consistent snapshot. The concrete TTL is drawn per refresh from
    * [minTtlMs, maxTtlMs] (ClickHouse's jitter, which staggers refresh
    * storms when many workers share a source). */
  final class Refreshing(load: () => AbiDictionary, minTtlMs: Long, maxTtlMs: Long) {
    private final case class State(dict: AbiDictionary, expiresAt: Long)
    private val state = new java.util.concurrent.atomic.AtomicReference[State]
    private val rnd = new java.util.Random()

    private def refresh(): State = {
      val span = math.max(0L, maxTtlMs - minTtlMs)
      val ttl = minTtlMs + (if (span == 0) 0L else rnd.nextLong(span + 1))
      State(load(), System.currentTimeMillis() + ttl)
    }

    def current(): AbiDictionary = {
      val s = state.get()
      if (s != null && System.currentTimeMillis() < s.expiresAt) s.dict
      else synchronized {
        val s2 = state.get()
        if (s2 != null && System.currentTimeMillis() < s2.expiresAt) s2.dict
        else { val n = refresh(); state.set(n); n.dict }
      }
    }
  }

  def refreshing(spark: SparkSession, url: String,
      minTtlMs: Long = 3600000, maxTtlMs: Long = 7200000): Refreshing =
    new Refreshing(() => fromUrl(spark, url), minTtlMs, maxTtlMs)

  /** Standard ERC-20-ish defaults for the fake chain / tests. */
  def builtin: AbiDictionary = {
    val transferTopic = Hex.encode(graft.evm.FakeChain.transferTopic0)
    val transferSel = Hex.encode(
      graft.evm.Abi.parseFullSig("function transfer(address,uint256)(bool)").selector)
    AbiDictionary(Map(
      transferTopic -> Seq("event Transfer(address indexed,address indexed,uint256)"),
      transferSel -> Seq("function transfer(address,uint256)(bool)")))
  }
}
