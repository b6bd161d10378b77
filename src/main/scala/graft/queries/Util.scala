package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the oracle-gated query packs.
  *
  * Determinism contract with the DuckDB oracle (the driver hash-compares
  * values): all monetary/double aggregations go through an exact
  * DECIMAL(18,2) sum and only then cast back to double, so the result is
  * bit-identical regardless of Spark's partial-aggregation order. The
  * testdata's double columns are all exact 2-decimal values, so the
  * decimal cast itself is lossless.
  */
object Util {
  /** Load one testdata table. Column pruning + filter pushdown reach the
    * parquet scan because this is a plain declarative reader.
    *
    * `events.parquet` ts normalizes to a microsecond TimestampType
    * column whatever the file stores — the driver has generated it both
    * as TIMESTAMP(NANOS) (Spark 4 rejects by default; nanosAsLong reads
    * it as raw long nanos, `div 1000` drops to micros losslessly) and as
    * TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ; the session runs in UTC,
    * so the cast to TimestampType keeps the same micros). Detecting from
    * the read schema instead of pinning one form keeps every events
    * query working across regenerations.
    */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    } else s.read.parquet(s"$dir/$name.parquet")

  private val dec = DecimalType(18, 2)

  /** Order-insensitive exact sum of a 2-decimal double column. */
  def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")

  /** Exact sum of a product of two 2-decimal columns. */
  def dsumProd(a: Column, b: Column): Column =
    sum(a.cast(dec) * b.cast(dec)).cast("double")

  /** `(doc_id, payload)` rows: each `id` of `ids` with the payload a
    * fixture's UDF gives it (see [[graft.fixtures.Fixture.udf]]). */
  def mediaRows(ids: Dataset[_], media: UserDefinedFunction): DataFrame =
    ids.select(col("id").as("doc_id"), media(col("id")).as("payload"))

  /** A query pack: named queries + their DuckDB oracle SQL. */
  trait QueryPack {
    def queries: Map[String, (SparkSession, String) => DataFrame]
    def oracleSql: Map[String, String]
  }
}
