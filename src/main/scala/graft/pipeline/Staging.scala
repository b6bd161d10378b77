package graft.pipeline

import java.io.IOException
import java.util.UUID
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col

/** Stage-then-publish, the write path of every pipeline target: a batch
  * is written once into a private directory beside its target,
  * `<target>_staging/<seq>-<uuid>`, off the pipeline's ordered path; the
  * ordered commit then only publishes it by rename — the file-sink design
  * of Structured Streaming, where tasks write data files anywhere and the
  * commit is a metadata step.
  *
  * The staging root is a SIBLING of the target, like [[SinkTable]]'s
  * `_compact`: inside the target, a root holding only staging would make
  * the sink exist while `spark.read.parquet` fails to infer its schema.
  * The lock keeps a publish from removing the emptied root while a stage
  * creates its directory under it. */
object Staging {
  /** One batch written under `<target>_staging/` but not yet part of
    * `target`. `replaceParts`: publishing replaces each live partition
    * directory the batch holds instead of adding files to it. */
  final case class Staged(fs: FileSystem, dir: Path, target: Path, replaceParts: Boolean)

  private def root(target: String) = new Path(target + "_staging")
  private val lock = new Object

  /** Run `writer` once into a fresh staging directory of `target`. */
  def stage(spark: SparkSession, target: String, seq: Long,
      writer: DataFrameWriter[Row], replaceParts: Boolean = false): Staged = {
    val dir = new Path(root(target), s"$seq-${UUID.randomUUID}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    lock.synchronized(fs.mkdirs(dir))
    writer.mode("append").parquet(dir.toString)
    Staged(fs, dir, new Path(target), replaceParts)
  }

  /** Export staging (the daily_parquet family): one file per `partCol`
    * value. Publishing replaces each live partition the batch holds —
    * dynamic partition overwrite, so re-running a day leaves one copy
    * (the export analog of the sink's `_ingest_seq` dedup). */
  def stagePartitions(df: DataFrame, target: String, partCol: String, seq: Long): Staged =
    stage(df.sparkSession, target, seq,
      df.repartition(col(partCol)).write.partitionBy(partCol), replaceParts = true)

  /** Make a staged batch visible by rename: each data file moves into the
    * matching directory of the target under its job-unique name, and a
    * partition directory the target lacks moves whole. The staging
    * directory goes after, and the staging root once it is empty. */
  def publish(s: Staged): Unit = {
    moveInto(s.fs, s.dir, s.target, s.replaceParts)
    s.fs.delete(s.dir, true)
    val r = s.dir.getParent
    lock.synchronized(if (s.fs.exists(r) && s.fs.listStatus(r).isEmpty) s.fs.delete(r, false))
  }

  /** Spark's `_SUCCESS` and checksum files stay behind; `k=v` partition
    * directories (`_part=202401`) are data although they start with `_`. */
  private def isData(name: String): Boolean =
    name.contains("=") || !(name.startsWith("_") || name.startsWith("."))

  private def moveInto(fs: FileSystem, from: Path, to: Path, replace: Boolean): Unit =
    fs.listStatus(from).filter(st => isData(st.getPath.getName)).foreach { st =>
      val dst = new Path(to, st.getPath.getName)
      if (st.isDirectory && replace) fs.delete(dst, true)
      if (st.isDirectory && fs.exists(dst)) moveInto(fs, st.getPath, dst, replace)
      else if (!(fs.mkdirs(to) && fs.rename(st.getPath, dst)))
        throw new IOException(s"cannot publish ${st.getPath} as $dst")
    }

  /** Delete what a crashed run staged for `target` and never published. */
  def clear(spark: SparkSession, target: String): Unit = {
    val r = root(target)
    val fs = r.getFileSystem(spark.sparkContext.hadoopConfiguration)
    lock.synchronized(fs.delete(r, true))
  }
}
