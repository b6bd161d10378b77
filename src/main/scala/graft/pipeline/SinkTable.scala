package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parquet-backed sink with ReplacingMergeTree semantics (reference:
  * `create table … engine = ReplacingMergeTree order by (keys) partition
  * by toYYYYMM(timestamp)`, examples/ethereum_blocks/create_table.sql:30-32).
  *
  * Writes are append-only and carry a monotonic `_ingest_seq` (run base
  * + batch number, where the base is max existing seq + 1 at the run's
  * first write); duplicate keys from re-runs are resolved on read by
  * last-write-wins over the order keys — exactly the
  * at-least-once-write / effectively-once-read contract of the reference.
  * A batch is staged, then published by rename ([[Staging]]).
  * At scale: monthly partition pruning via the derived `_part` column,
  * row-group stats give key-range skipping, and `compact()` rewrites a
  * partition to physically drop superseded versions.
  */
final case class SinkTable(
    path: String,
    orderKeys: Seq[String],
    partitionColumn: Option[String] = None,
    bloomFilterCols: Seq[String] = Nil) {

  private def partCol(df: DataFrame): Option[Column] =
    partitionColumn.filter(df.columns.contains).map(c =>
      date_format(col(c), "yyyyMM").as("_part"))

  /** Base for `_ingest_seq`: max published seq + 1, read once at the
    * first [[stage]], so before this run's first publish. Batch numbers
    * restart at 0 every run, so without the base a re-ingest of an old
    * key range (e.g. forceStart after a transform fix) would LOSE
    * last-write-wins to the prior run's higher seqs. */
  @volatile private var seqBase: Long = -1L
  private def sequenceBase(spark: SparkSession): Long = {
    if (seqBase < 0L) synchronized {
      if (seqBase < 0L)
        seqBase =
          if (!exists(spark)) 0L
          else {
            val row = readRaw(spark).agg(max(col("_ingest_seq"))).head()
            if (row.isNullAt(0)) 0L else row.getLong(0) + 1L
          }
    }
    seqBase
  }

  /** Write one batch, with its `_ingest_seq` and `_part`, into a private
    * staging directory; readers see none of it until [[publish]]. One
    * write job and no count: the REBALANCE hint lets AQE size the files —
    * one per `_part` for a small batch (a 6-row micro-batch from 32
    * shuffle partitions would otherwise write 32 near-empty parquet
    * files, fragmenting every later sink read), split for a large one. */
  def stage(df: DataFrame, ingestSeq: Long): Staging.Staged = {
    val withSeq = df.withColumn("_ingest_seq",
      lit(sequenceBase(df.sparkSession) + ingestSeq))
    val out = partCol(df).fold(withSeq)(p => withSeq.withColumn("_part", p))
    val parts = if (out.columns.contains("_part")) Seq("_part") else Nil
    // point-lookup columns get parquet bloom filters — the skipping-index
    // analog (examples/ethereum_logs/create_table.sql:15-20)
    val writer = bloomFilterCols.foldLeft(out.hint("rebalance", parts.map(col): _*).write) {
      (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    Staging.stage(df.sparkSession, path, ingestSeq, writer.partitionBy(parts: _*))
  }

  def publish(staged: Staging.Staged): Unit = Staging.publish(staged)

  /** Append one batch (idempotent under re-runs thanks to read-side dedup). */
  def append(df: DataFrame, ingestSeq: Long): Unit = publish(stage(df, ingestSeq))

  private def fs(spark: SparkSession): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession): Boolean = fs(spark).exists(new Path(path))

  /** Raw append-only contents (may contain superseded versions). */
  def readRaw(spark: SparkSession): DataFrame = spark.read.parquet(path)

  /** Dedup-on-read view: latest `_ingest_seq` wins per order key. */
  def read(spark: SparkSession): DataFrame = dedupOnRead(readRaw(spark), None)

  /** Dedup-on-read restricted to the given `_part` (yyyyMM) partitions —
    * the filter lands BEFORE the dedup window, so it is a real partition-
    * pruning predicate on the parquet scan (a post-window filter on a
    * non-key column cannot push through row_number). Dedup then runs
    * partition-local, which matches ReplacingMergeTree: ClickHouse merges
    * (and therefore replaces) only within a partition too. No-op when the
    * sink was written without a partition column. */
  def read(spark: SparkSession, parts: Seq[String]): DataFrame =
    dedupOnRead(readRaw(spark), Some(parts))

  /** Dedup-on-read over an ALREADY-RESOLVED raw frame. `spark.read
    * .parquet` re-lists the directory and re-reads footers on every
    * call; callers that probe/transform many times per run (SqlPipeline)
    * pin one [[readRaw]] resolution and derive every per-batch pruned
    * view from it through here (round 18, guide §6 file listing). */
  def dedupOnRead(raw0: DataFrame, parts: Option[Seq[String]]): DataFrame = {
    val raw = parts match {
      case Some(ps) if raw0.columns.contains("_part") =>
        raw0.filter(col("_part").isin(ps: _*))
      case _ => raw0
    }
    val w = Window.partitionBy(orderKeys.map(col): _*)
      .orderBy(col("_ingest_seq").desc)
    raw.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_ingest_seq", "_part")
  }

  /** yyyyMM strings covering an epoch-day range — the `_part` values a
    * day-batched export needs (PARTITION pruning input). */
  def monthsOfDayRange(startDay: Long, endDay: Long): Seq[String] = {
    val s = java.time.LocalDate.ofEpochDay(startDay).withDayOfMonth(1)
    val e = java.time.LocalDate.ofEpochDay(endDay)
    Iterator.iterate(s)(_.plusMonths(1)).takeWhile(!_.isAfter(e))
      .map(d => f"${d.getYear}%04d${d.getMonthValue}%02d").toSeq
  }

  /** Optional compaction: physically drop superseded versions, keeping
    * `_ingest_seq` so subsequent appends still dedup correctly (the
    * ReplacingMergeTree background merge made explicit). */
  def compact(spark: SparkSession): Unit = {
    val w = Window.partitionBy(orderKeys.map(col): _*)
      .orderBy(col("_ingest_seq").desc)
    rewrite(spark, readRaw(spark)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn"))
  }

  /** Delete-by-DOC compaction — the UPDATE leg for HASH-KEYED index
    * sinks ([[graft.operators.TextDedup.winnowIndex]] /
    * `cdcChunkIndex`: rows keyed by content hash). Key-wise LWW
    * ([[compact]] / [[read]]) replaces a row only when a NEWER row
    * shares its order key; re-indexing an edited document changes the
    * doc's KEY SET, so its old hash rows share no key with the new
    * ones and survive every key-wise merge — stale rows that keep
    * matching probes against content the corpus no longer has. This
    * pass applies the [[graft.operators.IncrementalIndex.append]]
    * delete-by-doc rule at compaction time instead: per `docCol`
    * value, only rows of that doc's LATEST `_ingest_seq` batch
    * survive (an index builder emits a doc's whole entry set in one
    * batch, so latest-batch == current entry set). Append-only
    * corpora never need this — every doc has one batch and the pass
    * degenerates to a rewrite.
    *
    * Scale shape: one window shuffle partitioned by doc over the sink
    * being rewritten anyway — the same single-shuffle cost as
    * [[compact]], with `_ingest_seq` retained so later appends keep
    * their precedence. */
  def compactByDoc(spark: SparkSession, docCol: String): Unit = {
    val w = Window.partitionBy(col(docCol))
    rewrite(spark, readRaw(spark)
      .withColumn("_max_seq", max(col("_ingest_seq")).over(w))
      .filter(col("_ingest_seq") === col("_max_seq")).drop("_max_seq"))
  }

  /** Overwrite the sink's files with `kept` via tmp-dir + rename (the
    * shared tail of both compaction passes). */
  private def rewrite(spark: SparkSession, kept: DataFrame): Unit = {
    val tmp = path + "_compact"
    val writer = kept.write.mode("overwrite")
    (if (kept.columns.contains("_part")) writer.partitionBy("_part") else writer)
      .parquet(tmp)
    fs(spark).delete(new Path(path), true)
    fs(spark).rename(new Path(tmp), new Path(path))
  }
}
