package graft.tools
import java.util.regex.Matcher
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** Executed plans of `SparkEntry` queries at sf0.01, for diffing a
  * refactor's plans against its parent's. Each query runs through its
  * own `QueryExecution`, and the dump prints that execution's plan
  * after the run: the final adaptive plan (`isFinalPlan=true`), with
  * the stages and exchanges that ran. Tokens that change from one
  * run of the same commit to the next are masked: expression ids, plan
  * ids, lambda class and variable names, object hashes, temp-dir names
  * and adaptive stage and codegen ids. Variations that are left: Spark
  * numbers the groups of a multi-`countDistinct` aggregate (`Expand ...
  * gid`) in an order that can change from run to run, and a final plan
  * keeps the run-time adaptive choices (a join over a drained stream
  * sink may be broadcast in one run and sort-merge in the next, and of
  * two equal broadcast stages either may be the one reused); the
  * initial plan printed under it does not vary that way.
  *
  * Each query prints a `===== name =====` header, an `exchanges=N` line
  * (shuffle and broadcast exchanges of the final plan, subqueries
  * included) and the plan. A query that throws prints `FAILED: <message>`
  * under its header and the dump goes on.
  *
  * Usage: `sbt "runMain graft.tools.PlanDump"` dumps every query in name
  * order; `sbt "runMain graft.tools.PlanDump st6,m18"` dumps the queries
  * whose names contain one of the comma-separated substrings, like
  * `graft.Verify`'s filter. */
object PlanDump extends AdaptiveSparkPlanHelper {
  private val runSpecific = Seq(
    """#\d+""" -> "#",
    """plan_id=\d+""" -> "plan_id=",
    """\$\$Lambda(\$\d+)?/0x[0-9a-f]+""" -> Matcher.quoteReplacement("$$Lambda"),
    """@[0-9a-f]+\b""" -> "@",
    """(graft-[A-Za-z0-9-]*[A-Za-z])\d+""" -> "$1",
    // lambda variables are numbered from a JVM-wide counter, so every
    // lambda an earlier query built shifts the names in later plans
    """(lambda \w+?)_\d+""" -> "$1_",
    // query-stage and whole-stage-codegen ids follow stage completion
    // order when a plan was already executed adaptively
    """(QueryStage) \d+""" -> "$1",
    """\*\(\d+\)""" -> "*")

  def normalize(plan: String): String =
    runSpecific.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  private def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: Exchange => e }.size

  def main(args: Array[String]): Unit = {
    val sf = "/root/testdata/sf0.01"
    val keep: String => Boolean = args.headOption match {
      case Some(f) => val pats = f.split(","); name => pats.exists(name.contains)
      case None => _ => true
    }
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.LogNoise.muteUnpersistWarning()
    for ((n, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1) if keep(n)) {
      println(s"===== $n =====")
      try graft.operators.Materialize.scoped {
        val qe = fn(spark, sf).queryExecution
        SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreach(_ => ()))
        val plan = qe.executedPlan
        println(s"exchanges=${exchanges(plan)}")
        println(normalize(plan.toString))
      } catch { case e: Throwable =>
        println(s"FAILED: ${normalize(String.valueOf(e.getMessage))}")
      }
    }
    spark.stop()
  }
}
