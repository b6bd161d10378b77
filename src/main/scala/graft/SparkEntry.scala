package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Util.QueryPack

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries aggregate from per-domain packs; every pack entry pairs a
  * declarative Spark implementation with DuckDB oracle SQL (where the
  * operator is SQL-expressible) for the driver's correctness gate.
  */
object SparkEntry {
  private def packs: Seq[QueryPack] = Seq(
    graft.queries.Relational,
    graft.queries.Relational2,
    graft.queries.TextOps,
    graft.queries.SimilarityOps,
    graft.queries.EvmOps,
    graft.queries.MultimodalOps,
    graft.queries.StreamingOps
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * Fake-chain queries (no SQL-derivable oracle) are gated by pinned
    * VALUES goldens instead — see PinnedGoldens. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracleSql).toMap ++ graft.queries.PinnedGoldens.sql
}
