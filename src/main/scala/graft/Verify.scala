package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. A query that throws
  * is logged and the dump goes on; after oracle_sql.json is written,
  * the failed names are listed and the exit status is 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name substrings, for fast local
    // loops; "--oracle-only" writes just oracle_sql.json (for baseline
    // timing tools)
    val oracleOnly = args.lift(2).contains("--oracle-only")
    val keep: String => Boolean = args.lift(2) match {
      case Some(f) if !oracleOnly =>
        val pats = f.split(","); name => pats.exists(name.contains)
      case _ => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // message-matching filter for the one expected per-block warning
    // the scoped release triggers — the rdd package keeps its WARN
    // signal (see LogNoise)
    LogNoise.muteUnpersistWarning()
    new java.io.File(outDir).mkdirs()
    val failed = Seq.newBuilder[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name) && !oracleOnly) {
        // scoped release: each query's Materialize.eager checkpoints die
        // with the query — a 336-query dump no longer accumulates blocks
        try graft.operators.Materialize.scoped {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed += name
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val names = failed.result()
    if (names.nonEmpty) {
      System.err.println(s"[verify] ${names.size} queries failed: ${names.mkString(", ")}")
      sys.exit(1)
    }
  }
}
