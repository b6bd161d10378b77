package graft.tools
import java.util.regex.Matcher
import org.apache.spark.sql.SparkSession

/** Executed plans of named `SparkEntry` queries at sf0.01, for diffing a
  * refactor's plans against its parent's. Tokens that change from one
  * run of the same commit to the next are masked, so two runs print
  * byte-identical text: expression ids, plan ids, lambda class names,
  * object hashes and temp-dir names.
  *
  * Usage: `sbt "runMain graft.tools.PlanDump st62_… st63_…"`. */
object PlanDump {
  private val runSpecific = Seq(
    """#\d+""" -> "#",
    """plan_id=\d+""" -> "plan_id=",
    """\$\$Lambda(\$\d+)?/0x[0-9a-f]+""" -> Matcher.quoteReplacement("$$Lambda"),
    """@[0-9a-f]+\b""" -> "@",
    """(graft-q-[A-Za-z-]*[A-Za-z])\d+""" -> "$1")

  def normalize(plan: String): String =
    runSpecific.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val sf = "/root/testdata/sf0.01"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- args) {
      println(s"===== $n =====")
      val df = graft.SparkEntry.queries(n)(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      println(normalize(df.queryExecution.executedPlan.toString))
    }
    spark.stop()
  }
}
