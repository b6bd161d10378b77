package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Prometheus text-format scrape endpoint over the Metrics listener —
  * the reference serves tally metrics on :9999
  * (cmd/pipeline/pipeline.go:90-113, prefix `agnostic_blockchain_etl`).
  * JDK-built-in HttpServer; no extra dependencies.
  *
  * Exposed series (counters, monotonic within the process):
  *   graft_queries_total, graft_queries_failed_total,
  *   graft_output_rows_total, graft_scan_bytes_total,
  *   graft_query_millis_total
  */
final class PrometheusEndpoint private (
    server: com.sun.net.httpserver.HttpServer) {
  def port: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)
}

object PrometheusEndpoint {

  /** Render the current metric totals in Prometheus exposition format
    * (text/plain; version 0.0.4). O(1): the listener keeps running
    * totals, not a per-action log. */
  def render(spark: SparkSession): String = {
    val l = Metrics.listener(spark)
    val sb = new StringBuilder
    def counter(name: String, help: String,
        value: Metrics.Listener => java.util.concurrent.atomic.LongAdder): Unit = {
      sb.append(s"# HELP $name $help\n")
      sb.append(s"# TYPE $name counter\n")
      sb.append(s"$name ${l.map(value(_).sum).getOrElse(0L)}\n")
    }
    counter("graft_queries_total", "Completed Spark actions", _.queries)
    counter("graft_queries_failed_total", "Failed Spark actions", _.failed)
    counter("graft_output_rows_total", "Rows produced by completed actions",
      _.outputRows)
    counter("graft_scan_bytes_total", "Bytes scanned by completed actions",
      _.scanBytes)
    counter("graft_query_millis_total", "Wall millis of completed actions",
      _.elapsedMs)
    sb.toString
  }

  /** Start a scrape server (port 0 = ephemeral, for tests; the
    * reference's default is 9999). Registers the metrics listener. */
  def start(spark: SparkSession, port: Int = 9999): PrometheusEndpoint = {
    Metrics.register(spark)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    server.createContext("/metrics", (exchange: com.sun.net.httpserver.HttpExchange) => {
      val body = render(spark).getBytes("UTF-8")
      exchange.getResponseHeaders.set("Content-Type",
        "text/plain; version=0.0.4; charset=utf-8")
      exchange.sendResponseHeaders(200, body.length.toLong)
      val os = exchange.getResponseBody
      try os.write(body) finally os.close()
    })
    server.setExecutor(null)
    server.start()
    new PrometheusEndpoint(server)
  }
}
