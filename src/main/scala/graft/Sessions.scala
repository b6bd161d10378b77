package graft

import org.apache.spark.sql.SparkSession

/** Session settings that graft applies to the sessions it creates or
  * is handed for a pipeline run or a stream gate. */
object Sessions {
  /** Runs `s`'s tasks on the application's shared class loader instead
    * of a per-session artifact class loader, and returns `s`.
    *
    * Spark keys its generated-code cache by the task's class loader as
    * well as the source, and by default every `newSession()` gets its
    * own loader (`spark.sql.artifact.isolation.enabled`). A pipeline or
    * a stream gate that runs in a fresh child session then recompiles
    * every generated class on every run, and each session's compiled
    * classes stay on the heap with its loader. With the shared loader a
    * generated class compiles once per JVM.
    *
    * graft never adds session artifacts (`addArtifact`), so task classes
    * come from the application class loader either way and results do
    * not change. Spark reads the flag once, at the session's first
    * execution: on a session that has already run a query this call
    * changes nothing. A session cloned from `s` (a stream's) inherits
    * the setting. */
  def shareCode(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.artifact.isolation.enabled", "false")
    s
  }
}
