package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Multimodal, Sessionize, StreamingNearDup}
import Util._
import graft.operators.Multimodal.{AudioChroma, AudioCode, AudioInterval,
  AudioLandmark, AudioOnset, AudioOnsetRolling, AudioSpectralCode,
  AudioSpectralLandmark, ImageAffine, ImageAffineFrame,
  ImageAffineFrameAnchored, ImageAffineFrameChiral, ImageAffineFrameSqueezeFan,
  ImagePeak, ImagePeakDihedral, ImageRotScale, ImageScale, ImageScaleAspect,
  ImageScaleCanonical, ImageScaleDihedral, ImageScaleNormalized, PHash,
  PHashCrop, PHashDihedral, PHashFlip, PHashRot, PeakLossy, VideoAffine,
  VideoAffineFrame, VideoAffineFrameSqueezeFan, VideoCrop, VideoFrames,
  VideoFramesDihedral, VideoFramesFlip, VideoPeak, VideoRotScale, VideoScale,
  VideoScaleAspect, VideoScaleCanonical, VideoShift, VideoShiftDihedral,
  VideoShiftFlip, VideoSkip}

/** Structured Streaming + stateful + multimodal surface.
  *
  * st61 runs a REAL streaming query (file source → event-time window agg
  * → memory sink, drained with processAllAvailable) whose final table
  * must equal the batch oracle — the micro-batch model's correctness
  * contract. st62 is keyed stateful sessionization (the
  * flatMapGroupsWithState walk, run as one sorted pass per key). st63
  * exercises tip-follow catch-up of the chain pipeline. m7x are the
  * multimodal binary-column operators.
  */
object StreamingOps extends QueryPack {

  /** File-source stream over a staged events.parquet with `ts`
    * normalized to a microsecond TimestampType column. A file stream
    * needs an explicit schema, and the driver's testdata has stored ts
    * both as TIMESTAMP(NANOS) (reads as raw long nanos under
    * nanosAsLong) and as TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ) —
    * so take the schema from a batch read of the same staged files and
    * convert whichever ts form it declares (same contract as
    * [[Util.t]]). */
  private def eventsStream(s: SparkSession, staged: java.nio.file.Path,
      opts: Map[String, String] = Map.empty): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = s.read.parquet(staged.toString).schema
    val base = s.readStream.schema(schema).options(opts).parquet(staged.toString)
    schema("ts").dataType match {
      case LongType => base.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => base.withColumn("ts", col("ts").cast("timestamp"))
      case _ => base
    }
  }

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Session-scoped DRAIN harness for the st gates: a cloned
    * SparkSession (shared SparkContext, own conf/catalog) with a
    * small shuffle-partition count. Stateful micro-batches create one
    * state-store instance + checkpoint commit PER SHUFFLE PARTITION
    * per operator per batch, so at the bench session's 32 partitions
    * a 5-batch fixture drain pays 160 state commits for rows that fit
    * in one; measured on the st88 shape at local[32]: 6.8-11.4 s at
    * 32 partitions vs 2.4-2.7 s at 4 (and 1 partition read slightly
    * worse than 4). Results are partition-count invariant (every gate
    * is a deterministic aggregation over the drained table — the
    * CORRECTNESS runner already executes at 4), so only wall clock
    * changes. Memory-sink tables register in the clone's catalog; each
    * gate does ALL its work through the clone, which also isolates
    * concurrently-running lanes' catalogs. The clone and its streams
    * run on the shared class loader (`Sessions.shareCode`), so a
    * gate's generated code compiles once per JVM, not once per run. */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = graft.Sessions.shareCode(s.newSession())
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss
  }

  /** Temp staging dir for the file-source queries, registered for
    * JVM-exit cleanup (files registered as they are staged — without
    * this every run leaked one copied parquet per staged query). */
  private def stagingDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  private def stageCopy(src: String, dir: java.nio.file.Path, name: String): Unit = {
    val dst = dir.resolve(name)
    java.nio.file.Files.copy(java.nio.file.Paths.get(src), dst)
    dst.toFile.deleteOnExit()
  }

  /** Stage each batch as ONE parquet file — a.parquet, b.parquet, …
    * in delivery order — in a fresh staging dir. mtimes step 120 s
    * apart, the last file newest: the file source lists oldest-first,
    * so maxFilesPerTrigger=1 delivers each batch as its own
    * micro-batch, in order. */
  private def stageBatches(prefix: String, batches: DataFrame*): java.nio.file.Path = {
    val staged = stagingDir(prefix)
    batches.zipWithIndex.foreach { case (df, i) =>
      val dst = staged.resolve(s"${('a' + i).toChar}.parquet")
      val tmp = staged.resolve(s"${dst.getFileName}.tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.deleteOnExit()
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 120000L * (batches.size - 1 - i)))
    }
    staged
  }

  /** `(doc_id, payload)` rows: each id of `ids` with its synthetic
    * media blob. */
  private def payloads(ids: org.apache.spark.sql.Dataset[_],
      media: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame =
    ids.toDF("doc_id").select(col("doc_id"), media(col("doc_id")).as("payload"))

  private val mediaSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("payload", BinaryType)))

  /** The staged `(doc_id, payload)` files as a stream, one file per
    * micro-batch, repartitioned BEFORE the decode kernels: the
    * per-trigger file scan is one partition, and decoding is the CPU
    * cost. A fresh source instance per call. */
  private def mediaStream(s: SparkSession, staged: java.nio.file.Path): DataFrame =
    s.readStream.schema(mediaSchema)
      .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      .repartition(col("doc_id"))

  /** Start every named query into a memory sink of that name, then
    * drain them in order and stop them all, whatever fails. All start
    * before the first drain, so independent queries run concurrently
    * and cost the slowest one's trigger latency, not the sum. Returns
    * the first query's sink table. */
  private def drain(s: SparkSession, mode: String)(
      named: (String, DataFrame)*): DataFrame = {
    val started = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.sql.streaming.StreamingQuery]
    try {
      named.foreach { case (name, df) =>
        started += df.writeStream.outputMode(mode).format("memory")
          .queryName(name).start()
      }
      started.foreach(_.processAllAvailable())
    } finally started.foreach(_.stop())
    s.table(named.head._1)
  }

  /** Vote gate of the near-dup scorer, on a (doc, src) pair's vote
    * count `c`: at least `k` votes, or at least a share `f` of the
    * smaller doc's probe-row count (`nl`, `nl_src`). */
  private sealed trait Votes
  private final case class AtLeast(k: Int) extends Votes
  private final case class Share(f: Double) extends Votes

  /** The near-dup gates' post-drain vote count over a verdict sink —
    * one row per probe unit of `doc_id`, `hits` = the earlier docs
    * that unit matched: each (doc, src) pair's votes pass `gate` or
    * not, and a doc is a dup of the lowest-id src that passes. Every
    * branch re-aliases its key before any join: the memory sink's view
    * resolves to the SAME attribute ids on every read, and a raw
    * self-join fails analysis. Returns (every doc_id, the `(d,
    * dup_src)` dups). */
  private def voteDups(out: DataFrame, gate: Votes): (DataFrame, DataFrame) = {
    val pairs = out
      .select(col("doc_id").as("d"), explode(col("hits")).as("src"))
      .groupBy(col("d"), col("src")).agg(count(lit(1)).as("c"))
    val (docs, passing) = gate match {
      case AtLeast(k) =>
        (out.select(col("doc_id")).distinct(), pairs.filter(col("c") >= k))
      case Share(f) =>
        val nl = out.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
        val nlSrc = out.select(col("doc_id").as("src_id"))
          .groupBy(col("src_id")).agg(count(lit(1)).as("nl_src"))
        (nl, pairs.join(nl, col("d") === nl("doc_id")).drop("doc_id")
          .join(nlSrc, col("src") === col("src_id"))
          .filter(col("c").cast("double") / least(col("nl"), col("nl_src"))
            >= f))
    }
    (docs, passing.groupBy(col("d")).agg(min(col("src")).as("dup_src")))
  }

  /** [[voteDups]] as the gates' verdict table: `(doc_id, kept,
    * dup_src)` ordered by doc_id. */
  private def voteDedup(out: DataFrame, gate: Votes): DataFrame = {
    val (docs, dup) = voteDups(out, gate)
    docs.join(dup, col("doc_id") === col("d"), "left")
      .select(col("doc_id"), col("dup_src").isNull.as("kept"),
        col("dup_src"))
      .orderBy(col("doc_id"))
  }

  private val evHalfSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st61_stream_window" -> ((s0, dir) => { val s = streamSession(s0)
      // the file source requires a directory — stage the table into one
      val staged = stagingDir("graft-stream-events")
      stageCopy(s"$dir/events.parquet", staged, "events.parquet")
      val stream = eventsStream(s, staged)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      drain(s, "complete")("st61_out" -> stream)
        .select(col("w.start").as("day_start"), col("event_type"), col("n"),
          col("total_value"))
        .orderBy(col("day_start"), col("event_type"))
    }),

    "st62_sessionize" -> ((s0, dir) => { val s = streamSession(s0)
      implicit val sp: SparkSession = s
      Sessionize.sessions(t(s, dir, "events"), gapSeconds = 1800).toDF()
        .orderBy(col("user_id"), col("session_seq"))
    }),

    // NATIVE streaming session windows: a real streaming query using
    // session_window() state merging (the built-in analog of the
    // flatMapGroupsWithState walk in st62). Boundary semantics differ
    // from st62 by design: session_window opens a new session at
    // gap >= 30min (window overlap), the stateful walk at gap > 30min —
    // the oracle encodes the >= form.
    "st64_stream_session_window" -> ((s0, dir) => { val s = streamSession(s0)
      val staged = stagingDir("graft-stream-sess")
      stageCopy(s"$dir/events.parquet", staged, "events.parquet")
      val stream = eventsStream(s, staged)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      drain(s, "complete")("st64_out" -> stream)
        .select(col("user_id"),
          expr("unix_micros(w.start) div 1000000").as("start_s"),
          expr("unix_micros(w.end - INTERVAL 30 MINUTES) div 1000000").as("end_s"),
          col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("start_s"))
    }),

    // Streaming ingest dedup: the same file lands TWICE (the
    // re-delivery / crash-retry shape a scraped-corpus ingest sees);
    // maxFilesPerTrigger=1 forces the copies into different
    // micro-batches so dropDuplicates must dedup across batches via
    // the state store, not within one batch. The memory sink then
    // holds each event exactly once and a batch aggregation over it
    // must equal the plain batch oracle on the single-copy table. At
    // scale the same plan runs with dropDuplicatesWithinWatermark so
    // state is evicted past the re-delivery horizon; the unbounded
    // form here keeps the oracle exact.
    "st65_stream_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val staged = stagingDir("graft-stream-dedup")
      stageCopy(s"$dir/events.parquet", staged, "a.parquet")
      stageCopy(s"$dir/events.parquet", staged, "b.parquet")
      val stream = eventsStream(s, staged, Map("maxFilesPerTrigger" -> "1"))
        .dropDuplicates("event_id")
      drain(s, "append")("st65_out" -> stream)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    }),

    // STREAMING confusable-normalized exact dedup (t74 in the ingest
    // matrix): batch 1 delivers 20 raw documents, batch 2 HOMOGLYPH
    // re-posts of the first ten (Cyrillic lookalikes + zero-width
    // breaks — byte-distinct, so dropDuplicates on raw text keeps
    // them all) plus ten genuinely new documents. Keying the dedup on
    // md5(normalizeConfusables(text)) drops every spoof and keeps
    // every new document; the output counts are batch-split-invariant
    // and the oracle derives them from the corpus alone.
    "st86_stream_confusable_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      val docs = t(s, dir, "documents")
      val staged = stageBatches("graft-stream-confus",
        docs.filter($"doc_id" < 20)
          .select($"doc_id", $"text"),
        docs.filter($"doc_id" < 10)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            regexp_replace(
              translate($"text", "aeocpxy",
                "\u0430\u0435\u043e\u0441\u0440\u0445\u0443"),
              " ", "\u200b ").as("text"))
          .unionByName(docs.filter($"doc_id" >= 20 && $"doc_id" < 30)
            .select($"doc_id", $"text")))
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        .withColumn("nkey",
          md5(graft.operators.TextAnalysis.normalizeConfusables(col("text"))))
        .dropDuplicates("nkey")
      drain(s, "append")("st86_out" -> stream).agg(
          count(lit(1)).as("total_kept"),
          sum(when(col("doc_id") >= 1000000L, 1L).otherwise(0L))
            .as("spoofed_kept"))
    }),

    // Streaming ingest quality gate: the documents table flows through
    // gopherQualityFlags as a STREAM (pure per-row expressions — the
    // stateless map every streaming curation pipeline starts with);
    // the memory sink's gate decisions aggregate to exactly the batch
    // oracle. Demonstrates the text operators compose with readStream
    // unchanged — same Column expressions, same results.
    "st66_stream_quality_gate" -> ((s0, dir) => { val s = streamSession(s0)
      val staged = stagingDir("graft-stream-gate")
      stageCopy(s"$dir/documents.parquet", staged, "documents.parquet")
      val stream = graft.operators.TextAnalysis.gopherQualityFlags(
        s.readStream.schema(docsSchema).parquet(staged.toString),
        "doc_id", "text", minTokens = 10, maxMeanLen = 6.0)
      drain(s, "append")("st66_out" -> stream)
        .groupBy(col("keep"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ok_stopwords"), 1L).otherwise(0L)).as("n_ok_stopwords"))
        .orderBy(col("keep"))
    }),

    // Streaming decontamination screen: documents arrive as a STREAM
    // and every 3-shingle instance is checked against a STATIC probe
    // set (the doc_id<5 stand-in benchmark) via a stream-static
    // broadcast join — the stateless realtime form of t48's batch
    // screen (explode + broadcast-semi-join; no streaming state at
    // all). The memory sink's hit rows aggregate to exactly the batch
    // oracle's per-doc contaminated-instance counts.
    "st67_stream_decontaminate" -> ((s0, dir) => { val s = streamSession(s0)
      val staged = stagingDir("graft-stream-decon")
      stageCopy(s"$dir/documents.parquet", staged, "documents.parquet")
      val probe = t(s, dir, "documents").filter(col("doc_id") < 5)
        .select(explode(graft.operators.TextDedup.wordShingles(col("text"), 3))
          .as("g"))
        .distinct()
      val stream = s.readStream.schema(docsSchema).parquet(staged.toString)
        .select(col("doc_id"),
          explode(graft.operators.TextDedup.wordShingles(col("text"), 3)).as("g"))
        .join(broadcast(probe), Seq("g"))
      drain(s, "append")("st67_out" -> stream)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    }),

    // STREAM-STATIC winnowing decontamination — st67 with the SAMPLED
    // index: the broadcast side holds the eval set's winnowed
    // fingerprints (~2/(w+1) of the full shingle set st67 ships, with
    // the recall floor intact), and each arriving document winnows
    // in-stream and probes it. Batch 1 delivers five junk-SPLICED
    // leaks of the eval docs (whole-doc hashes and aligned shingle
    // offsets both broken; every one must hit by the winnowing
    // guarantee), batch 2 ten unrelated corpus docs (hits only where
    // the corpus genuinely shares text). Full SQL replay.
    "st87_stream_winnow_decontam" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      val probe = graft.operators.TextDedup.winnowFingerprints(
          docs.filter($"doc_id" < 5), "doc_id", "text").toDF()
        .select($"fp").distinct()
      val staged = stageBatches("graft-stream-winnow",
        docs.filter($"doc_id" < 5)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            concat(lit("junk prefix tokens before the borrowed span "),
              $"text", lit(" junk suffix after")).as("text")),
        docs.filter($"doc_id" >= 100 && $"doc_id" < 110)
          .select($"doc_id", $"text"))
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val fps = graft.operators.TextDedup.winnowFingerprints(
        stream, "doc_id", "text").toDF()
      val joined = fps.join(broadcast(probe), Seq("fp"))
      drain(s, "append")("st87_out" -> joined)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    }),

    // Streaming NEAR-dup dedup (extends st65 beyond exact keys): the
    // second delivery is EDITED (ids shifted, a tail appended), so
    // dropDuplicates can't catch it — MinHash band state across
    // micro-batches does (StreamingNearDup). mtimes force the original
    // file into micro-batch 1 (the file source lists oldest-first), and
    // the verdict fold is id-ordered, so the oracle replays the whole
    // ladder: signatures, band buckets, >= 8-of-16 component agreement
    // against any lower-id document sharing a band.
    "st68_stream_neardup" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      val docs = t(s, dir, "documents")
      // near-dup second delivery: the mutated copy
      val staged = stageBatches("graft-stream-neardup", docs,
        docs.select(($"doc_id" + 1000000L).as("doc_id"),
          concat($"text", lit(" streamdup tail")).as("text"),
          $"lang", $"source", $"n_chars"))
      // repartition BEFORE the minhash kernel: the per-trigger file scan
      // is one partition, and the kernel is the CPU cost
      val stream = s.readStream.schema(docsSchema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        .repartition(col("doc_id"))
      // maxBucket=64: the shipped skew guard (hot boilerplate band
      // bucket stops growing). Far above any fixture bucket (42 docs
      // total), so decisions are provably unchanged — see BENCH_NOTES.
      val verdicts = StreamingNearDup.bandVerdicts(
        stream, "doc_id", "text", maxBucket = 64)
      drain(s, "append")("st68_out" -> verdicts.toDF())
        .groupBy(col("doc_id"))
        .agg(max(when(col("dup_src").isNotNull, 1).otherwise(0)).as("_dropped"))
        .select(col("doc_id"), (col("_dropped") === 0).as("kept"))
        .orderBy(col("doc_id"))
    }),

    // Streaming retention: the q46 contract as STATE — per-user
    // condition bits accumulate in mapGroupsWithState across
    // micro-batches, with the delivery deliberately SPLIT by event
    // parity so no single batch sees a user's whole history. Retention
    // is an order-free AND of per-condition EXISTS, so monotone bit
    // state is exact under any arrival order — the streaming-friendly
    // member of the behavioral family (windowFunnel's cursor is NOT
    // order-free; this one composes with late data for free). The
    // sink's final per-user bits must decode to the batch oracle.
    "st70_stream_retention" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val staged = stageBatches("graft-stream-retention",
        ev.filter(col("event_id") % 2 === 0), ev.filter(col("event_id") % 2 === 1))
      val stream = s.readStream.schema(evHalfSchema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        .select(col("user_id"), col("event_type")).as[(Long, String)]
        .groupByKey(_._1)
        .mapGroupsWithState[Int, (Long, Int)](GroupStateTimeout.NoTimeout()) {
          (uid: Long, it: Iterator[(Long, String)], st: GroupState[Int]) =>
            var bits = st.getOption.getOrElse(0)
            it.foreach {
              _._2 match {
                case "view" => bits |= 1
                case "click" => bits |= 2
                case "purchase" => bits |= 4
                case _ =>
              }
            }
            st.update(bits)
            (uid, bits)
        }
      drain(s, "update")("st70_out" -> stream.toDF("user_id", "bits"))
        .groupBy(col("user_id")).agg(max(col("bits")).as("_b")) // monotone: max = final
        .select(col("user_id"),
          (col("_b").bitwiseAND(1) === 1).as("r1"),
          ((col("_b").bitwiseAND(1) === 1) &&
            (col("_b").bitwiseAND(2) === 2)).as("r2"),
          ((col("_b").bitwiseAND(1) === 1) &&
            (col("_b").bitwiseAND(4) === 4)).as("r3"))
        .orderBy(col("user_id"))
    }),

    // Streaming distinct-count sketch: the q49/q53 HLL register
    // Aggregator unchanged inside a STREAMING groupBy (update mode,
    // state = the 4 KB register buffer per key) over a split
    // delivery — the demonstration that the sketch's merge is
    // streaming-safe: byte-max registers are associative, commutative
    // and idempotent, so micro-batch boundaries cannot change the
    // final registers and the sink must land on the batch oracle
    // bit-for-bit. The streaming-native aggregation shape for
    // billion-key distinct counts (bounded state per key where exact
    // countDistinct state is unbounded).
    "st71_stream_hll" -> ((s0, dir) => { val s = streamSession(s0)
      // split by event_id parity: no single batch sees a key's whole history
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val staged = stageBatches("graft-stream-hll",
        ev.filter(col("event_id") % 2 === 0), ev.filter(col("event_id") % 2 === 1))
      val regs = graft.functions.HllSketch.hllRegisters
      val stream = s.readStream.schema(evHalfSchema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        .groupBy(col("event_type"))
        .agg(regs(col("user_id").cast("string")).as("regs"))
      drain(s, "update")("st71_out" -> stream)
        .groupBy(col("event_type"))
        // update mode emits one REGISTER BLOB per changed key per
        // trigger; hllMerge over all emissions equals the final state
        // because register union is idempotent (earlier triggers'
        // registers are subsets) — exact regardless of which estimator
        // branch each trigger's cardinality lands in, where max() over
        // ESTIMATES could go stale across the linear-counting/raw
        // branch crossover
        .agg(graft.functions.HllSketch.hllMerge(col("regs")).as("hll_est"))
        .orderBy(col("event_type"))
    }),

    // Streaming embedding ingest: the ONLINE half of an ANN index —
    // coarse centroids come from the offline/batch corpus (the index
    // build), arriving vectors get IVF-assigned and int8-quantized as
    // a stateless streaming map (same operators as s44/s47, unchanged
    // over readStream). The memory sink must equal the batch replay.
    "st69_stream_embed_ingest" -> ((s0, dir) => { val s = streamSession(s0)
      val name = "st69_out"
      val staged = stagingDir("graft-stream-embed")
      stageCopy(s"$dir/embeddings.parquet", staged, "embeddings.parquet")
      val embSchema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      // index build side: deterministic seed centroids from the batch
      // table (a production run trains these offline via ivfTrain)
      val batch = t(s, dir, "embeddings")
      val stream = s.readStream.schema(embSchema).parquet(staged.toString)
      val assigned = graft.operators.Similarity.ivfAssign(stream, k = 8,
        centroids = Some(graft.operators.Similarity.seedCentroids(batch, 8)))
      val quantized = graft.operators.Similarity.quantizeInt8(stream)
        .select(col("vec_id"), col("scale"),
          array_join(transform(col("qvec"), x => x.cast("string")), ",").as("q_str"))
      drain(s, "append")(s"${name}_a" -> assigned.toDF(),
          s"${name}_q" -> quantized)
        .join(s.table(s"${name}_q"), Seq("vec_id"))
        .select(col("vec_id"), col("centroid_id"), col("dist_sq"),
          col("scale"), col("q_str"))
        .orderBy(col("vec_id"))
    }),

    // Chain pipeline catches up as the tip advances — pinned golden.
    "st63_tip_catchup" -> ((s0, _) => { val s = streamSession(s0)
      import graft.pipeline.{SinkTable, SqlPipeline}
      val path = java.nio.file.Files.createTempDirectory("graft-q-catchup")
        .resolve("sink").toString
      Seq(10, 18).foreach { tip =>
        SqlPipeline.run(s, SqlPipeline.exampleDir("ethereum_blocks_spark"),
          Map("RPC_ENDPOINT" -> s"fake://chain?tip=$tip", "SINK_PATH" -> path),
          c => c.copy(maxBatchSize = 6, workers = 2))
      }
      SinkTable(path, Seq("number"), Some("timestamp")).read(s)
        .select(col("number"), col("gas_used")).orderBy(col("number"))
    }),

    "m71_media_meta" -> ((s, dir) => {
      Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.mime").as("mime"),
          col("media_meta.content_hash").as("content_hash"))
        .orderBy(col("doc_id"))
    }),

    // mapPartitions feature extraction over binary payloads; the oracle
    // replays the byte histogram + entropy fold (ascending byte order,
    // ln(p)/ln(2)) — bit-identical because both sides fold in the same
    // order with the same libm-rounded ops.
    "m72_media_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.extractFeatures(
        Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"))
        .toDF().orderBy(col("doc_id"))
    }),

    // frame sampling over binary payloads; the oracle replays the
    // fixed-size-frame slicing with substr + md5.
    "m73_frame_sample" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.sampleFrames(
        Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"))
        .toDF()
        .select(col("doc_id"), col("frame_idx"), md5(col("frame")).as("frame_hash"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // stubbed resize (every factor-th byte): the oracle rebuilds the
    // downsampled payload with substr and hashes it.
    "m74_media_resize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.resize(
        Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text"), factor = 4)
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("orig_bytes"),
          md5(col("payload")).as("resized_hash"))
        .orderBy(col("doc_id"))
    }),

    // REAL multi-frame GIF decode: deterministic generated 4-frame
    // grayscale GIFs → every 2nd frame's luma plane, hashed. Pure
    // function of doc_id, gated by a pinned golden — the animated-codec
    // path a DuckDB oracle cannot replay in SQL.
    "m76_gif_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val gif = udf((id: Long) => Multimodal.syntheticGif(id))
      val media = s.range(0, 20)
        .select(col("id").as("doc_id"), gif(col("id")).as("payload"))
      Multimodal.sampleFrames(media, stride = 2).toDF()
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).as("n_luma_bytes"),
          md5(col("frame")).as("frame_hash"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // REAL WAV audio decode (RIFF/PCM16 chunk parser, plain JVM — WAV
    // needs no codec library): every third doc carries a generated WAV
    // whose samples are a pure integer function of (doc_id, n), so the
    // oracle regenerates the sample stream IN SQL and verifies the
    // encode→parse round-trip arithmetically — a stronger gate than the
    // image ops' pinned goldens. The rest take the documented 8-bit
    // stub path over text bytes, replayed with ascii() — which assumes
    // the corpus precondition that holds here (non-empty ASCII text):
    // an empty doc would vanish from the oracle's UNNEST and a
    // multi-byte char would break char==byte, so a general-text corpus
    // would replay bytes via a blob cast instead.
    "m77_wav_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        Multimodal.syntheticWav(id, (160 + (id % 13) * 16).toInt))
      val media = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, wav(col("doc_id")))
            .otherwise(col("text").cast("binary")).as("payload"))
      Multimodal.audioFeatures(media).toDF().orderBy(col("doc_id"))
    }),

    // REAL image decode (javax.imageio): deterministic generated PNGs →
    // BT.601 luma-plane features. Pure function of doc_id (independent
    // of the sf tables), gated by a pinned golden (PinnedGoldens) — the
    // codec path a DuckDB oracle cannot replay in SQL.
    "m75_image_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val png = udf((id: Long) => Multimodal.syntheticPng(id))
      val media = s.range(0, 40)
        .select(col("id").as("doc_id"), png(col("id")).as("payload"))
      Multimodal.extractFeatures(media).toDF().orderBy(col("doc_id"))
    }),

    // IMAGE near-dup pairs via pHash (32x32 box resample → StrictMath
    // DCT-II → 8x8 median bits): 20 base PNGs + 20 lightly-edited
    // variants (id >= 20 edits id-20); 16-bit chunk-bucket candidates
    // (pigeonhole-complete for dist <= 3), bit_count verify. The codec
    // + DCT path a DuckDB oracle cannot replay — pinned golden gate
    // (the m75/m76 precedent).
    "m78_phash_pairs" -> ((s, dir) => {
      val png = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id)
        else Multimodal.syntheticPngVariant(id - 20))
      val media = s.range(0, 40)
        .select(col("id").as("doc_id"), png(col("id")).as("payload"))
      Multimodal.pairs(PHash)(media, maxDist = 3, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // AUDIO near-dup pairs via integer autocorrelation fingerprints:
    // 20 textured WAVs + 20 re-leveled variants (floor-scaled x0.9 —
    // R(L) signs survive positive scaling); 13-bit frame codes, aligned
    // code-agreement >= 0.8. Integer arithmetic end to end, so the
    // oracle regenerates the stream and replays the codes EXACTLY in
    // SQL (the m77 arithmetic-round-trip precedent — no pinned golden).
    "m79_audio_fingerprint" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavTex(id, (160 + (id % 13) * 16).toInt)
        else Multimodal.syntheticWavTex(id - 20,
          (160 + ((id - 20) % 13) * 16).toInt, num = 9, den = 10))
      val media = s.range(0, 40)
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioCode)(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // AUDIO near-dup pairs under TIME SHIFT: 14 textured WAVs + 14
    // leading-trimmed re-uploads (first 128 samples = 2 hops cut, so
    // every frame index shifts by 2 — aligned m79 matching sees
    // nothing). Landmarks = (code, next-code) pairs with no positional
    // key; integer end to end, oracle replays codes + LEAD window in
    // SQL (m79 precedent — no pinned golden).
    "m80_audio_landmarks" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavTex(id, (320 + (id % 8) * 64).toInt)
        else Multimodal.syntheticWavTexTrim(id - 20,
          (320 + ((id - 20) % 8) * 64 - 128).toInt, skip = 128))
      val media = s.range(0, 14).union(s.range(20, 34))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioLandmark())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // VIDEO container decode + frame-sampled pHash: deterministic
    // synthetic AVIs (uncompressed DIB frames — bit-exact through the
    // BMP decode), every 2nd frame hashed via the m78 path. Codec +
    // StrictMath DCT — pinned golden gate (m75/m78 precedent).
    "m81_video_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        Multimodal.syntheticAvi(id, (4 + id % 3).toInt))
      val media = s.range(0, 8)
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.videoFramePHash(media, every = 2).toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // VIDEO near-dup under TIME SHIFT: 8 base AVIs + 8 re-uploads with
    // the first 2 frames CUT (frameOffset=2 = one `every` stride, so
    // every sample position shifts by 1 — aligned m82 matching sees
    // nothing, interior landmarks are bit-identical). Pinned golden.
    "m84_video_landmarks" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, (6 + id % 3).toInt)
        else Multimodal.syntheticAvi(id - 20, (6 + (id - 20) % 3).toInt - 2,
          frameOffset = 2))
      val media = s.range(0, 8).union(s.range(20, 28))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.pairs(VideoShift())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // VIDEO near-dup under TRIM + RE-ENCODE combined — the pirate-copy
    // edit neither m82 (aligned, blinded by the trim) nor m84 (exact
    // landmarks, blinded by the transcode's pHash drift) catches: 8 DIB
    // originals + 8 copies with the first 2 frames cut AND
    // MJPEG-transcoded; the 128-bit landmark pair cut into 8 16-bit
    // chunks (m78 pigeonhole on the pair) finds them. Pinned golden
    // (codec + StrictMath DCT path, the m83 MJPEG precedent).
    "m87_video_tolerant" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, (8 + id % 3).toInt)
        else Multimodal.syntheticAvi(id - 20, (8 + (id - 20) % 3).toInt - 2,
          mjpeg = true, frameOffset = 2))
      val media = s.range(0, 8).union(s.range(20, 28))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.videoLandmarkPairsTolerant(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // VIDEO → AUDIO extraction dedup: 8 AVIs whose audio track id is
    // doc_id % 4 — the same PCM stream under entirely different frame
    // streams (the reposted-clip / reaction-video shape the video tier
    // cannot see). Audio extracts via the 'NNwb' movi walk
    // (videoAudioTracks) and lands in the m80 landmark tier; integer
    // arithmetic end to end, so the oracle regenerates the samples and
    // replays the landmark match in SQL (the m80 replay with the
    // audio-id mapping).
    "m88_video_audio_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        Multimodal.syntheticAvi(id, (6 + id % 3).toInt,
          audioId = id % 4, audioSamples = (320 + (id % 4) * 64).toInt))
      val media = s.range(0, 8)
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.pairs(AudioLandmark())(Multimodal.videoAudioTracks(media),
        maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MP4 container decode + frame-sampled pHash — the m81 gate at the
    // ISO-BMFF mux: the box-tree walk (moov/trak/stbl), a per-sample
    // stsz video table with one-sample-per-chunk stco, and (odd ids)
    // the 64-bit co64 offset leg, end to end into the m78 pHash path.
    // Pinned golden (JDK JPEG codec leg, the m83 precedent).
    "m89_mp4_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val mp4 = udf((id: Long) =>
        Multimodal.syntheticMp4(id, (4 + id % 3).toInt, co64 = id % 2 == 1))
      val media = s.range(0, 8)
        .select(col("id").as("doc_id"), mp4(col("id")).as("payload"))
      Multimodal.videoFramePHash(media, every = 2).toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // CROSS-container near-dup: the same frame stream muxed RIFF/AVI
    // (MJPEG) and ISO-BMFF — the shared JPEG encode makes the sample
    // bytes identical, so the aligned tier must score every pair 1.0.
    // The re-upload that swaps container WITHOUT re-encoding — exact
    // dedup misses it (different container bytes), the frame tier must
    // not. Pinned golden.
    "m90_mp4_crossdedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val mk = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, (6 + id % 3).toInt, mjpeg = true)
        else Multimodal.syntheticMp4(id - 20, (6 + (id - 20) % 3).toInt))
      val media = s.range(0, 8).union(s.range(20, 28))
        .select(col("id").as("doc_id"), mk(col("id")).as("payload"))
      Multimodal.pairs(VideoFrames())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // FRAGMENTED MP4 (fMP4/DASH) decode: AVI originals vs fMP4
    // re-uploads of the same frame stream — the moof/tfhd/trun walk
    // (empty moov tables, per-fragment sample runs, default-base-is-
    // moof data offsets) feeds the same aligned tier, every pair 1.0.
    // Pinned golden.
    "m92_fmp4_crossdedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val mk = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, (6 + id % 3).toInt, mjpeg = true)
        else Multimodal.syntheticFmp4(id - 20, (6 + (id - 20) % 3).toInt,
          perFrag = 2 + (id % 2).toInt))
      val media = s.range(0, 8).union(s.range(20, 28))
        .select(col("id").as("doc_id"), mk(col("id")).as("payload"))
      Multimodal.pairs(VideoFrames())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MP4 → AUDIO extraction dedup (the m88 gate at the ISO-BMFF mux):
    // 10 MP4s whose 'sowt' track id is doc_id % 5 — the same PCM under
    // different frame streams; extraction walks the UNIFORM-stsz
    // two-chunk sample table and the m80 landmark tier finds the
    // plants. Integer arithmetic end to end, so the oracle regenerates
    // the samples and replays the landmark match in SQL.
    "m91_mp4_audio_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val mp4 = udf((id: Long) =>
        Multimodal.syntheticMp4(id, (4 + id % 3).toInt,
          audioId = id % 5, audioSamples = (320 + (id % 5) * 64).toInt))
      val media = s.range(0, 10)
        .select(col("id").as("doc_id"), mp4(col("id")).as("payload"))
      Multimodal.pairs(AudioLandmark())(Multimodal.videoAudioTracks(media),
        maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MATROSKA (EBML) container decode, cross-container: the same
    // frame stream muxed RIFF/AVI (MJPEG) and Matroska — the shared
    // JPEG encode makes the block bytes identical, so the aligned tier
    // must score every pair 1.0. The MKV legs rotate per id: VfW
    // compatibility codec (CodecPrivate BITMAPINFOHEADER), BlockGroup
    // vs SimpleBlock, and the unknown-size live-streaming Segment —
    // between them the walk's three structural variants all sit under
    // the one gate. Pinned golden (JDK JPEG codec leg, the m83/m90
    // precedent).
    "m93_mkv_crossdedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val mk = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, (6 + id % 3).toInt, mjpeg = true)
        else Multimodal.syntheticMkv(id - 20, (6 + (id - 20) % 3).toInt,
          vfw = id % 2 == 0, blockGroup = id % 3 == 0,
          unknownSize = id % 2 == 1))
      val media = s.range(0, 8).union(s.range(20, 28))
        .select(col("id").as("doc_id"), mk(col("id")).as("payload"))
      Multimodal.pairs(VideoFrames())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MATROSKA → AUDIO extraction dedup (the m88/m91 gate at the EBML
    // mux): 10 MKVs whose "A_PCM/INT/LIT" track id is doc_id % 5 — the
    // same PCM under different frame streams; extraction concatenates
    // the track's blocks across clusters and the m80 landmark tier
    // finds the plants. Integer arithmetic end to end, so the oracle
    // regenerates the samples and replays the landmark match in SQL.
    "m94_mkv_audio_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val mkv = udf((id: Long) =>
        Multimodal.syntheticMkv(id, (4 + id % 3).toInt,
          audioId = id % 5, audioSamples = (320 + (id % 5) * 64).toInt,
          blockGroup = id % 4 == 3))
      val media = s.range(0, 10)
        .select(col("id").as("doc_id"), mkv(col("id")).as("payload"))
      Multimodal.pairs(AudioLandmark())(Multimodal.videoAudioTracks(media),
        maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // FRACTIONALLY-resampled audio dedup — the SPECTRAL tier (closes
    // round-9 gap #1, the most common transcode): 10 tone masters at
    // 8 kHz and 10 re-uploads of the same continuous signal sampled
    // at 44.1 kHz — the ideal-resampler pair, sharing NO sample
    // values, so the m79/m99 integer tier provably sees nothing
    // (Round10Spec pins the miss). 64 ms Goertzel band-energy codes
    // anchored in absolute time and frequency are identical across
    // rates and land all 10 re-uploads at match_frac 1.0. StrictMath
    // trig end to end — pinned golden.
    "m106_audio_spectral_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavTones(id, 8000)
        else Multimodal.syntheticWavTones(id - 20, 44100))
      val media = s.range(0, 10).union(s.range(20, 30))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioSpectralCode)(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // DIHEDRAL-8 probes against the AS-IS pHash index (the m85
    // incremental contract meeting the m109 orientation family):
    // corpus of 8 PNGs indexed ONCE; the ingest batch carries 4
    // quarter-turned reposts, 2 mirror+rotate compounds and 2
    // unrelated images. The plain index probe is blind to all six
    // reposts (Round10Spec pins it); 8-orientation probes catch every
    // one WITHOUT touching the index — orientation tolerance composes
    // with the persisted-index contract at zero reindex cost. Pinned
    // golden.
    "m112_index_dedup_dihedral" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val png = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id)
        else if (id < 30) Multimodal.syntheticPngRot(id - 20, (id % 3 + 1).toInt)
        else if (id < 40) Multimodal.syntheticPngRotFlip(id - 30, (id % 3 + 1).toInt)
        else Multimodal.syntheticPng(id))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), png(col("id")).as("payload"))
      val index = Multimodal.pHashChunkIndex(corpus)
      val probes = s.range(20, 24).union(s.range(30, 32)).union(s.range(140, 142))
        .select(col("id").as("doc_id"), png(col("id")).as("payload"))
      Multimodal.screen(PHashDihedral)(probes, index, maxDf = 64)
        .orderBy(col("doc_id"))
    }),

    // Incremental SPECTRAL screen against a persisted index (the m86
    // contract at the m106 seam): 8 tone masters at 8 kHz spectral-
    // coded ONCE; the ingest batch carries six 44.1 kHz re-uploads
    // (no sample values in common with the corpus — the integer index
    // never matches them) and two unrelated 44.1 kHz tones. Rate-free
    // codes land every re-upload on its master through the index; the
    // fp_ver stamp guards the screen against a stale build. Pinned
    // golden.
    "m113_spectral_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavTones(id, 8000)
        else if (id < 30) Multimodal.syntheticWavTones(id - 20, 44100)
        else Multimodal.syntheticWavTones(id, 44100))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      val index = Multimodal.index(AudioSpectralCode)(corpus)
      val probes = s.range(20, 26).union(s.range(130, 132))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.screen(AudioSpectralCode)(probes, index)
        .orderBy(col("doc_id"))
    }),

    // STREAMING aligned spectral audio dedup — completes the
    // {integer, spectral} x {aligned, landmark} streaming 2x2
    // (st73/st74/st82/this): micro-batch 1 delivers 10 tone masters
    // at 8 kHz, micro-batch 2 their straight 44.1 kHz re-uploads
    // (same start, no trim) — integer state shares no codes with
    // them; rate-free spectral codes land every one. Consumer scores
    // shared frames >= 0.8 over the smaller sequence (the st73
    // metric). Pinned golden.
    "st84_stream_spectral_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val wav = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticWavTones(id, 8000)
        else Multimodal.syntheticWavTones(id - 1000000L, 44100))
      val staged = stageBatches("graft-stream-spec",
        payloads(s.range(0, 10), wav),
        payloads(s.range(1000000L, 1000010L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioSpectralCode)(
        stream, maxBucket = 64)
      val out = drain(s, "append")("st84_out" -> hits)
      val nf = out.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nf"))
      val nfSrc = out.select(col("doc_id").as("src_id"))
        .groupBy(col("src_id")).agg(count(lit(1)).as("nf_src"))
      val dup = out
        .select(col("doc_id").as("d"), explode(col("hits")).as("src"))
        .groupBy(col("d"), col("src")).agg(count(lit(1)).as("c"))
        .join(nf, col("d") === nf("doc_id")).drop("doc_id")
        .join(nfSrc, col("src") === col("src_id"))
        .filter(col("c").cast("double") / least(col("nf"), col("nf_src"))
          >= 0.8)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nf.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // OVERLAPPED-frame spectral landmarks (the round-10 forward-plan
    // item landed): hop = 32 ms halves the trim-alignment granularity
    // of the m110 tier, so a 96 ms-trimmed 44.1 kHz re-upload — a
    // 32-multiple but NOT a 64-multiple, invisible to the default
    // non-overlapping frames (Round10Spec pins the miss) — lands on
    // its master. Frames straddling amplitude segments straddle
    // identically in both muxes (absolute-time anchoring), so codes
    // still match exactly. Pinned golden.
    "m114_audio_spectral_hop" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavTones(id, 8000, ms = 640)
        else Multimodal.syntheticWavTones(id - 20, 44100, ms = 512,
          offsetMs = 96))
      val media = s.range(0, 10).union(s.range(20, 30))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioSpectralLandmark(hopMs = 32))(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // STREAM-STATIC spectral index screen (the st76 shape at the m113
    // seam): the corpus spectral index is the STATIC side — no state
    // store at all — and the ingest stream's rate-free codes
    // broadcast-join it per micro-batch; scoring replays the m113
    // contract batch-side over the sink (shared frames >= 0.8 over
    // the smaller sequence). Batch 1 delivers five 44.1 kHz
    // re-uploads of corpus masters, batch 2 three more plus two
    // unrelated tones — every re-upload lands, decoys are kept.
    // Pinned golden.
    "st85_stream_spectral_index_screen" -> ((s0, dir) => { val s = streamSession(s0)
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticWavTones(id, 8000)
        else if (id < 2000000L)
          Multimodal.syntheticWavTones(id - 1000000L, 44100)
        else Multimodal.syntheticWavTones(id, 44100))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      val index = Multimodal.index(AudioSpectralCode)(corpus)
        .select(col("frame_idx"), col("code"), col("doc_id").as("src"),
          col("nf").as("nf_src"))
      val staged = stageBatches("graft-stream-specidx",
        payloads(s.range(1000000L, 1000005L), wav),
        payloads(s.range(1000005L, 1000008L)
          .union(s.range(2000000L, 2000002L)), wav))
      val stream = mediaStream(s, staged)
      val codes = Multimodal.audioSpectralCodes(stream).toDF()
      val joined = codes.join(broadcast(index), Seq("frame_idx", "code"),
        "left")
      val out = drain(s, "append")("st85_out" -> joined)
      // a probe frame row appears once per matching corpus doc (or
      // once with null src): nf counts distinct frames, c counts
      // (frame, src) matches — one per frame since the index holds
      // one code per (src, frame)
      val nf = out.groupBy(col("doc_id"))
        .agg(countDistinct(col("frame_idx")).as("nf"))
      val dup = out.filter(col("src").isNotNull)
        .select(col("doc_id").as("d"), col("src"), col("nf_src"))
        .groupBy(col("d"), col("src"), col("nf_src"))
        .agg(count(lit(1)).as("c"))
        .join(nf, col("d") === nf("doc_id")).drop("doc_id")
        .filter(col("c").cast("double") / least(col("nf"), col("nf_src"))
          >= 0.8)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nf.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // TRIM + FRACTIONAL-RESAMPLE compound audio re-upload — spectral
    // LANDMARKS (the m80 trick at the m106 seam): 10 tone masters at
    // 8 kHz / 640 ms, 10 re-uploads sampled at 44.1 kHz starting
    // 128 ms INTO the master's timeline — no common sample values
    // (integer tiers blind) AND every frame index shifted (the m106
    // aligned spectral tier blind too; Round10Spec pins both misses).
    // Rate-free positionless (code, next-code) landmarks land all 10.
    // Pinned golden (StrictMath trig).
    "m110_audio_spectral_landmarks" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavTones(id, 8000, ms = 640)
        else Multimodal.syntheticWavTones(id - 20, 44100, ms = 512,
          offsetMs = 128))
      val media = s.range(0, 10).union(s.range(20, 30))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioSpectralLandmark())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // STREAMING spectral-landmark audio dedup (the m110 tier in the
    // streaming matrix): micro-batch 1 delivers 10 tone masters at
    // 8 kHz, micro-batch 2 their 128 ms-trimmed 44.1 kHz re-uploads —
    // the compound no integer or aligned state can see. Rate-free
    // landmark buckets emit earlier sharers; the batch query over the
    // sink scores shared distinct landmarks >= 0.6 over the smaller
    // set (the m110 metric). Pinned golden.
    "st82_stream_spectral_landmark_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val wav = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticWavTones(id, 8000, ms = 640)
        else Multimodal.syntheticWavTones(id - 1000000L, 44100, ms = 512,
          offsetMs = 128))
      val staged = stageBatches("graft-stream-slm",
        payloads(s.range(0, 10), wav),
        payloads(s.range(1000000L, 1000010L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioSpectralLandmark())(
        stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st82_out" -> hits), Share(0.6))
    }),

    // ARBITRARY-OFFSET trim + fractional resample — ONSET-ANCHORED
    // spectral landmarks (closes round-10 gap #1): 10 beat-gated tone
    // masters at 8 kHz (segMs=96/gateMs=32/permMs=32: every burst is
    // exactly one 64 ms frame long and levels re-permute every 32 ms),
    // 10 re-uploads at 44.1 kHz trimmed 50 ms — a multiple of NEITHER
    // 64 nor 32, so every grid-anchored frame is off the master's grid
    // and the m110 tier AND the m114 hop=32 tier provably miss
    // (Round11Spec pins both, with top grid scores < 0.25). Frames
    // anchored at energy onsets travel with the content through any
    // trim and any resample; all 10 re-uploads land, measured floor
    // match_frac = 0.9 (pairs 0-20 and 2-22 — don't tune minMatch
    // above it). Pinned golden (StrictMath trig).
    "m115_audio_onset_landmarks" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavTones(id, 8000, ms = 1248,
          gateMs = 32, segMs = 96, permMs = 32)
        else Multimodal.syntheticWavTones(id - 20, 44100, ms = 1120,
          offsetMs = 50, gateMs = 32, segMs = 96, permMs = 32))
      val media = s.range(0, 10).union(s.range(20, 30))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioOnset())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // STATIONARY-audio contrast gate (m175 — fixture-pins the one
    // declared scope line without a measured gate, mirroring m161's
    // shape for images): burst-free constant-level tone beds have NO
    // energy onsets, so the onset-anchored tier emits NOTHING on them
    // — pinned as zero "onset" rows — while the rate-free
    // spectral-landmark grid tier owns the class' non-pitch-scaled
    // transforms: a frame-aligned 128 ms trim re-encoded at 44.1 kHz
    // lands every planted pair (the m110 compound). Masters 6-7 stay
    // unpaired (no spurious pairs on fresh stationary beds). Pinned
    // golden.
    "m175_stationary_audio_gate" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavTones(id, 8000, ms = 640)
        else Multimodal.syntheticWavTones(id - 20, 44100, ms = 512,
          offsetMs = 128))
      val media = s.range(0, 8).union(s.range(20, 26))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      val onset = Multimodal.pairs(AudioOnset())(media, maxDf = 64)
        .select(lit("onset").as("tier"), col("doc_a"), col("doc_b"),
          col("match_frac"))
      val spectral = Multimodal.pairs(AudioSpectralLandmark())(media,
        maxDf = 64)
        .select(lit("spectral").as("tier"), col("doc_a"), col("doc_b"),
          col("match_frac"))
      onset.unionByName(spectral)
        .orderBy(col("tier"), col("doc_a"), col("doc_b"))
    }),

    // EXIF orientation NORMALIZATION at decode (closes round-10 gap
    // #4): 8 PNG masters; 6 probes are EXIF-TAGGED JPEG camera
    // reposts — pixels stored rotated/mirrored/transposed with the
    // orientation tag saying how to view them (orientations 6, 8, 3,
    // 2, 5, 7) — plus 2 unrelated PNGs. Normalizing the tagged
    // rotation at decode (grid32 reads tag 0x0112 from the APP1 TIFF)
    // lands every repost via the PLAIN pHash tier, ONE probe instead
    // of the dihedral eight; without the tag the stored pixels are
    // provably outside hamming 3 of their master (Round11Spec strips
    // the APP1 and pins the miss). Remaining distance is high-quality
    // JPEG codec noise. Pinned golden (JDK JPEG codec leg).
    "m116_phash_exif" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val orient = Map(0L -> 6, 1L -> 8, 2L -> 3, 3L -> 2, 6L -> 5, 7L -> 7)
      val img = udf((id: Long) =>
        if (id >= 20 && id < 30)
          Multimodal.syntheticJpegExif(id - 20, orient(id - 20))
        else Multimodal.syntheticPng(id))
      val media = s.range(0, 8).union(s.range(20, 24)).union(s.range(26, 28))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(PHash)(media, maxDist = 3, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // STREAMING onset-landmark audio dedup (the m115 tier in the
    // streaming matrix): micro-batch 1 delivers 10 beat-gated tone
    // masters at 8 kHz, micro-batch 2 their 50 ms-trimmed 44.1 kHz
    // re-uploads — the arbitrary-offset compound every grid-anchored
    // streaming tier (st73/st74/st82/st84) is blind to. Onset-anchored
    // packed per-onset joint-code landmark buckets emit earlier
    // sharers; the batch
    // query over the sink scores shared distinct landmarks >= 0.6 over
    // the smaller set (the m115 metric). Pinned golden.
    "st89_stream_onset_landmark_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val wav = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticWavTones(id, 8000,
          ms = 1248, gateMs = 32, segMs = 96, permMs = 32)
        else Multimodal.syntheticWavTones(id - 1000000L, 44100, ms = 1120,
          offsetMs = 50, gateMs = 32, segMs = 96, permMs = 32))
      val staged = stageBatches("graft-stream-onset",
        payloads(s.range(0, 10), wav),
        payloads(s.range(1000000L, 1000010L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioOnset())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st89_out" -> hits), Share(0.6))
    }),

    // Streaming WINNOWING ingest dedup — the guaranteed-recall
    // sampled-overlap tier in the streaming matrix (st68's MinHash
    // bands estimate WHOLE-document similarity, so a spliced span
    // inside junk dilutes below its threshold; winnowing detects any
    // shared >= w+k-1-token run): batch 1 delivers the documents
    // corpus, batch 2 five junk-embedded splices (every one must land
    // on its master) plus five reversed fresh docs (kept). Consumer
    // scores shared DISTINCT fingerprints >= 3 (the t77 metric). The
    // shipped maxBucket=64 cap is replayed EXACTLY in the oracle: under
    // id-monotonic delivery a doc emits hits iff its id-rank within
    // the fingerprint's bucket is <= 64 (row_number in SQL), so the
    // gate pins the cap's semantics, not just its presence.
    "st90_stream_winnow_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      val docs = t(s, dir, "documents")
      val staged = stageBatches("graft-stream-winnow", docs,
        docs.filter($"doc_id" < 5)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            concat(lit("junk prefix tokens before the borrowed span "),
              $"text", lit(" junk suffix after")).as("text"),
            $"lang", $"source", $"n_chars")
          .unionAll(docs.filter($"doc_id" >= 40 && $"doc_id" < 45)
            .select(($"doc_id" + 2000000L).as("doc_id"),
              reverse($"text").as("text"), $"lang", $"source", $"n_chars")))
      val stream = s.readStream.schema(docsSchema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        .repartition(col("doc_id"))
      val hits = StreamingNearDup.winnowVerdicts(
        stream, "doc_id", "text", maxBucket = 64)
      voteDedup(drain(s, "append")("st90_out" -> hits.toDF()), AtLeast(3))
    }),

    // Streaming CDC ingest dedup — st90's byte-exact shift-tolerant
    // sibling: chunk boundaries re-synchronize at any offset, so the
    // spliced spans share interior chunks; shared DISTINCT chunk
    // hashes >= 2 (the t78 metric, chunk-granular recall and all —
    // doc 2's splice carves one interior chunk and stays kept, exactly
    // as t78/t81 document). Same exact cap replay in the oracle.
    "st91_stream_cdc_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      val docs = t(s, dir, "documents")
      val staged = stageBatches("graft-stream-cdc", docs,
        docs.filter($"doc_id" < 5)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            concat(lit("junk prefix tokens before the borrowed span "),
              $"text", lit(" junk suffix after")).as("text"),
            $"lang", $"source", $"n_chars")
          .unionAll(docs.filter($"doc_id" >= 40 && $"doc_id" < 45)
            .select(($"doc_id" + 2000000L).as("doc_id"),
              reverse($"text").as("text"), $"lang", $"source", $"n_chars")))
      val stream = s.readStream.schema(docsSchema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        .repartition(col("doc_id"))
      val hits = StreamingNearDup.cdcChunkVerdicts(
        stream, "doc_id", "text", nibbles = 2, maxBucket = 64)
      voteDedup(drain(s, "append")("st91_out" -> hits.toDF()), AtLeast(2))
    }),

    // Incremental ONSET-LANDMARK screen against a persisted index —
    // the first LANDMARK-keyed index in the audio family (m86/m113
    // key on aligned (frame_idx, code), which any arbitrary-offset
    // trim shifts wholesale): 8 gated-tone masters onset-indexed
    // ONCE; the ingest batch carries six 50 ms-trimmed 44.1 kHz
    // re-uploads (every grid index provably misses them) and two
    // unrelated gated tones. Joint-code landmarks land each re-upload
    // on its master through the index; the fp_ver stamp (namespaced
    // 4001) guards the screen against any stale or cross-family
    // build. Pinned golden.
    "m118_onset_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavTones(id, 8000, ms = 1248,
          gateMs = 32, segMs = 96, permMs = 32)
        else if (id < 30) Multimodal.syntheticWavTones(id - 20, 44100,
          ms = 1120, offsetMs = 50, gateMs = 32, segMs = 96, permMs = 32)
        else Multimodal.syntheticWavTones(id, 44100, ms = 1120,
          gateMs = 32, segMs = 96, permMs = 32))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      val index = Multimodal.index(AudioOnset())(corpus)
      val probes = s.range(20, 26).union(s.range(130, 132))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.screen(AudioOnset())(probes, index)
        .orderBy(col("doc_id"))
    }),

    // RE-LEVELED + trimmed + resampled compound — ADAPTIVE onset
    // threshold (the onset tier's last scope line): re-uploads are
    // volume-normalized to 1/16 of the master's level, trimmed 50 ms
    // and muxed at 44.1 kHz. Their peak (~660) sits BELOW the absolute
    // onset threshold (1024), so the m115 tier finds no onsets at all
    // on them (Round11Spec pins the zero-landmark miss) — while
    // thresholdFrac = 0.125 of each payload's own peak crosses at
    // (near) the same continuous time in master and re-upload, and the
    // spectral codes are amplitude-ordering bits, so every re-upload
    // lands (measured floor match_frac = 0.8 at pair 0-20 — don't
    // tune minMatch above it). Pinned golden.
    "m117_audio_onset_releveled" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavTones(id, 8000, ms = 1248,
          gateMs = 32, segMs = 96, permMs = 32)
        else Multimodal.syntheticWavTones(id - 20, 44100, ms = 1120,
          offsetMs = 50, gateMs = 32, segMs = 96, permMs = 32,
          gainNum = 1, gainDen = 16))
      val media = s.range(0, 10).union(s.range(20, 30))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioOnset(thresholdFrac = 0.125))(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // NOISY-FLOOR onset detection — ROLLING-RMS threshold (closes the
    // round-11 "onset detection needs sub-threshold spans" scope
    // line): the same beat-gated masters, but a continuous 60 Hz hum
    // at 1/16 full scale rides UNDER the whole signal — the gaps are
    // never quiet, so the absolute (m115) and peak-relative (m117)
    // tiers find ZERO onsets (no sub-threshold run of minSilenceMs
    // exists anywhere; Round11bSpec pins the structural miss). An
    // onset that is "amplitude >= 3x the trailing 24 ms RMS" is a
    // property of the continuous waveform like the gate edges
    // themselves, so the 50 ms-trimmed 44.1 kHz re-uploads land; all
    // 10 land, measured floor match_frac = 0.6875 (pair 1-21 — don't
    // tune minMatch above it). Pinned golden (StrictMath trig).
    "m119_audio_onset_noisy" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavTones(id, 8000, ms = 1248,
          gateMs = 32, segMs = 96, permMs = 32, floorNum = 1,
          floorDen = 16)
        else Multimodal.syntheticWavTones(id - 20, 44100, ms = 1120,
          offsetMs = 50, gateMs = 32, segMs = 96, permMs = 32,
          floorNum = 1, floorDen = 16))
      val media = s.range(0, 10).union(s.range(20, 30))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioOnsetRolling())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // SPEED-CHANGE / TIME-STRETCH audio dedup — ONSET-INTERVAL-RATIO
    // landmarks (closes the last audio scope line): 10 variable-
    // segment beat masters at 8 kHz; re-uploads are SPED UP 5%
    // (speed 21/20 — tempo AND pitch scale together, the classic
    // content-ID evasion), trimmed 50 ms, and muxed at 44.1 kHz.
    // Every spectral tier — grid and onset-anchored alike — misses
    // them structurally (codes are band-energy orderings at fixed Hz,
    // and 5% shifts each tone several Goertzel main lobes;
    // Round11cSpec pins zero cross-pairs for both), while the ratio
    // of successive inter-onset intervals is invariant under speed,
    // stretch, trim, mux rate, and level together. All 10 land at
    // match_frac 1.0 — every re-upload ratio window exists in its
    // master (quantized mid-cell by the fixture's geometric segment
    // ladder). Pinned golden (StrictMath trig).
    "m120_audio_speed_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavBeats(id, 8000, ms = 1248)
        else Multimodal.syntheticWavBeats(id - 20, 44100, ms = 1000,
          offsetMs = 50, speedNum = 21, speedDen = 20))
      val media = s.range(0, 10).union(s.range(20, 30))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioInterval())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // TIME-STRETCH + PITCH-SHIFT COMPOUND, timing-rich corpus (m158):
    // re-uploads are sped up 5% (tempo+pitch together) AND pitch-
    // shifted a further semitone (the new pitchNum knob — envelope
    // untouched), trimmed 50 ms, muxed at 44.1 kHz. The gate PINS the
    // structural fact that the compound is NOT a gap: onset detection
    // reads the energy ENVELOPE, which a pure pitch shift never
    // moves, so the interval-ratio tier is provably indifferent to
    // the pitch leg and the compound reduces to the m120 speed case.
    // Pinned golden.
    "m158_audio_compound_interval" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavBeats(id, 8000, ms = 1248)
        else Multimodal.syntheticWavBeats(id - 20, 44100, ms = 1000,
          offsetMs = 50, speedNum = 21, speedDen = 20,
          pitchNum = 196, pitchDen = 185))
      val media = s.range(0, 10).union(s.range(20, 30))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioInterval())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // TIME-STRETCH + TRUE-PITCH COMPOUND on a METRONOMIC corpus
    // (m159 — closes the round-11 measured gap): equal inter-onset
    // intervals make the interval tier degenerate, and a TRUE
    // (envelope-preserving) pitch shift scrambles inter-tone phases,
    // so single-window chroma codes survive 2/10 (the m158
    // analysis). The verified tier nominates candidates through
    // margin-multiprobe folded-Hann chroma codes and scores each
    // candidate by pooled Pearson of log peak heights over
    // trim-alignment x band-shift hypotheses — all 10 compound
    // re-uploads (5% speed + a further true semitone + 50 ms trim +
    // 44.1 kHz mux) land at 0.94+, decoys and cross pairs emit
    // nothing at the 0.85 gate. Pinned golden.
    "m159_audio_pitch_verified" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavBeats(id, 8000, ms = 1248,
          uniformSegMs = 96)
        else if (id < 128) Multimodal.syntheticWavBeats(id - 40, 44100,
          ms = 1000, offsetMs = 50, speedNum = 21, speedDen = 20,
          pitchNum = 196, pitchDen = 185, uniformSegMs = 96)
        else Multimodal.syntheticWavBeats(id, 44100, ms = 1000,
          uniformSegMs = 96))
      val media = s.range(0, 10).union(s.range(40, 50))
        .union(s.range(128, 132))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.audioChromaVerifiedPairs(media)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // NON-integer-semitone TRUE pitch on metronomic audio — the gap
    // line PLANS carried after m159 ("the verify tier's shift scan
    // only probes integer band offsets") measured CLOSED at default
    // knobs: a HALF-semitone envelope-preserving shift (35/34, between
    // every cyc=12 band) lands 8/8 at scores 0.95+ with zero false
    // pairs — the pooled Pearson verify correlates log peak heights at
    // resolved partials, not band-aligned energies, so a fractional
    // band offset only attenuates, it does not scramble. Pinned
    // golden.
    "m164_audio_half_tone_verified" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavBeats(id, 8000, ms = 1248,
          uniformSegMs = 96)
        else if (id < 128) Multimodal.syntheticWavBeats(id - 20, 44100,
          ms = 1000, offsetMs = 50, pitchNum = 35, pitchDen = 34,
          uniformSegMs = 96)
        else Multimodal.syntheticWavBeats(id, 44100, ms = 1000,
          uniformSegMs = 96))
      val media = s.range(0, 8).union(s.range(20, 28))
        .union(s.range(140, 144))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.audioChromaVerifiedPairs(media)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Incremental screen vs the persisted INTERVAL-RATIO landmark
    // index — the m120 tier's index member (the m118 contract shape):
    // 8 beat masters indexed once (IntervalFpVersion-stamped), then
    // an ingest batch of 6 sped-up (21/20) trimmed 44.1 kHz
    // re-uploads plus 2 fresh beat docs screens against it with no
    // corpus re-decode. Round11cSpec pins append == rebuild and the
    // cross-family version fail-fast both directions. Pinned golden.
    "m121_interval_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavBeats(id, 8000, ms = 1248)
        else if (id < 30) Multimodal.syntheticWavBeats(id - 20, 44100,
          ms = 1000, offsetMs = 50, speedNum = 21, speedDen = 20)
        else Multimodal.syntheticWavBeats(id, 44100, ms = 1000))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      val index = Multimodal.index(AudioInterval())(corpus)
      val probes = s.range(20, 26).union(s.range(130, 132))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.screen(AudioInterval())(probes, index)
        .orderBy(col("doc_id"))
    }),

    // STREAMING speed-change audio dedup (the m120 tier in the
    // streaming matrix): micro-batch 1 delivers 10 variable-segment
    // beat masters at 8 kHz, micro-batch 2 their 5% sped-up, 50 ms-
    // trimmed 44.1 kHz re-uploads — the compound every spectral
    // streaming tier (grid st73/st74/st82/st84 AND onset st89) is
    // blind to. Packed interval-ratio landmark buckets emit earlier
    // sharers; the batch query over the sink scores shared distinct
    // landmarks >= 0.6 over the smaller set (the m120 metric).
    // Pinned golden.
    "st92_stream_speed_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val wav = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticWavBeats(id, 8000,
          ms = 1248)
        else Multimodal.syntheticWavBeats(id - 1000000L, 44100,
          ms = 1000, offsetMs = 50, speedNum = 21, speedDen = 20))
      val staged = stageBatches("graft-stream-speed",
        payloads(s.range(0, 10), wav),
        payloads(s.range(1000000L, 1000010L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioInterval())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st92_out" -> hits), Share(0.6))
    }),

    // STREAMING noisy-floor audio dedup (the m119 tier in the
    // streaming matrix): micro-batch 1 delivers 10 beat-gated tone
    // masters over a continuous 60 Hz hum floor at 8 kHz, micro-batch
    // 2 their 50 ms-trimmed 44.1 kHz re-deliveries — audio with NO
    // sub-threshold span anywhere, so the threshold streaming onset
    // tier (st89) finds zero landmarks on every doc (Round11bSpec
    // pins the batch-side structural miss). Rolling-RMS onsets anchor
    // at the bursts (3x the trailing 24 ms RMS — a continuous-
    // waveform property); the batch query over the sink scores shared
    // distinct landmarks >= 0.6 over the smaller set. Pinned golden.
    "st93_stream_noisy_onset_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val wav = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticWavTones(id, 8000,
          ms = 1248, gateMs = 32, segMs = 96, permMs = 32,
          floorNum = 1, floorDen = 16)
        else Multimodal.syntheticWavTones(id - 1000000L, 44100,
          ms = 1120, offsetMs = 50, gateMs = 32, segMs = 96,
          permMs = 32, floorNum = 1, floorDen = 16))
      val staged = stageBatches("graft-stream-noisy",
        payloads(s.range(0, 10), wav),
        payloads(s.range(1000000L, 1000010L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioOnsetRolling())(
        stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st93_out" -> hits), Share(0.6))
    }),

    // FRAME-RATE-CONVERTED video dedup — SKIP-TOLERANT run-collapsed
    // landmarks (the rate-conversion re-upload class): ids 20-23 are
    // 30->24-style DOWN-conversions (every 5th base frame dropped,
    // floor(f*5/4) index remapping) of masters 0-3, ids 24-27 are
    // 24->30-style UP-conversions (every 4th duplicated, floor(f*4/5))
    // of masters 4-7, all leading-trimmed 4 frames; plus 2 fresh
    // decoys. A single drop flips the sampling parity of every later
    // frame, so the consecutive-pair tier at its default stride
    // misses both directions structurally (Round11dSpec pins zero
    // cross-pairs); run-collapse makes duplication exact (1.0) and
    // gap-2 pairs bridge drops (floor 0.773585 — don't tune minMatch
    // above it). Pinned golden (DIB + StrictMath DCT).
    "m122_video_rate_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, 40)
        else if (id < 24) Multimodal.syntheticAvi(id - 20, 28,
          frameOffset = 4, rateNum = 5, rateDen = 4)
        else if (id < 28) Multimodal.syntheticAvi(id - 20, 40,
          frameOffset = 4, rateNum = 4, rateDen = 5)
        else Multimodal.syntheticAvi(id, 40))
      val media = s.range(0, 8).union(s.range(20, 28))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.pairs(VideoSkip())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // PITCH-SHIFTED metronomic audio — CONSTANT-Q CHROMA landmarks
    // (the class where BOTH new round-11 audio tiers fail: uniform
    // 96 ms segments make every inter-onset interval equal, so the
    // interval-ratio tier collapses to one shared landmark — zero
    // discrimination, all-pairs degenerate (Round11eSpec pins 190/190
    // false positives) — and a one-SEMITONE speed-up (196/185 ~
    // 2^(1/12) to 4 ppm) scales every frequency so the fixed-Hz
    // spectral onset tier pins zero cross-pairs). Constant-Q band
    // energies (cyc cycles per center — bandwidth a constant fraction
    // of frequency) translate by exactly one band per semitone;
    // anchoring at the lowest half-max band and comparing smoothed
    // bands 3 steps apart makes the 13-bit code shift-invariant. All
    // 10 trimmed 44.1 kHz semitone re-uploads land, floor match_frac
    // 0.727273 (pair 7-27 — don't tune minMatch above it). Pinned
    // golden (StrictMath trig).
    "m124_audio_pitch_chroma" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavBeats(id, 8000, ms = 1248,
          uniformSegMs = 96)
        else Multimodal.syntheticWavBeats(id - 20, 44100, ms = 1000,
          offsetMs = 50, speedNum = 196, speedDen = 185,
          uniformSegMs = 96))
      val media = s.range(0, 10).union(s.range(20, 30))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioChroma())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // QUARTER-tone pitch shift — SUB-SEMITONE chroma bank (the
    // arbitrary-shift hardening of m124): a 176/171 speed-up
    // (~2^(1/24), 60 ppm off a true quarter-tone) is HALF a band step
    // for the semitone bank — energy splits across two bands and the
    // m124 tier finds ZERO cross pairs (Round11eSpec pins the
    // structural miss) — but exactly ONE step for the div=24 bank,
    // whose code geometry is the same in CENTS (smoothing radius,
    // stride, and window all scale by div/12). All 10 land, floor
    // match_frac 0.6 (pair 6-26 — the >= 0.6 filter keeps it, exact
    // StrictMath determinism is what the golden pins). Pinned golden.
    "m126_audio_quarter_tone" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavBeats(id, 8000, ms = 1248,
          uniformSegMs = 96)
        else Multimodal.syntheticWavBeats(id - 20, 44100, ms = 1000,
          offsetMs = 50, speedNum = 176, speedDen = 171,
          uniformSegMs = 96))
      val media = s.range(0, 10).union(s.range(20, 30))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioChroma(div = 24))(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // STRUCTURED-CROP image dedup — canonical-window hashes (the one
    // common image re-upload class with no tier until now): a crop
    // resamples a SUB-RECT over the full 32x32 pHash grid, so nothing
    // aligns and the plain tier misses wholesale (Round11fSpec pins
    // zero cross-pairs); but a crop to a canonical window (center
    // 75%/50%, any 50% quadrant — thumbnails, letterbox removal,
    // crop-to-subject) IS exactly those pixels, and the window
    // gridding shares the full grid's integer arithmetic, so the
    // crop's whole-image hash equals the master's window hash
    // BIT-EXACTLY (dist 0, PNG lossless). 7 window hashes per doc
    // from one decode (the dihedral tier's posting shape); candidates
    // require the full-image hash on one side. Probe 26 is an
    // arbitrary-offset crop — OUT of scope by design (content-
    // anchored keypoints would need CV libs) — pinned as a non-match.
    "m128_phash_crop_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id, 64, 64)
        else if (id == 20L) Multimodal.syntheticPngCrop(0, 16, 16, 48, 48)
        else if (id == 21L) Multimodal.syntheticPngCrop(1, 16, 16, 48, 48)
        else if (id == 22L) Multimodal.syntheticPngCrop(2, 0, 0, 32, 32)
        else if (id == 23L) Multimodal.syntheticPngCrop(3, 32, 0, 64, 32)
        else if (id == 24L) Multimodal.syntheticPngCrop(4, 8, 8, 56, 56)
        else if (id == 25L) Multimodal.syntheticPngCrop(5, 32, 32, 64, 64)
        else if (id == 26L) Multimodal.syntheticPngCrop(6, 20, 12, 52, 44)
        else if (id == 27L) Multimodal.syntheticPngCrop(7, 0, 32, 32, 64)
        else Multimodal.syntheticPng(id, 64, 64))
      val media = s.range(0, 8).union(s.range(20, 28))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(PHashCrop())(media, maxDist = 3, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"), col("win_a"), col("win_b"))
    }),

    // RULE-OF-THIRDS recomposition crops — the EXTENDED crop-window
    // ladder (m132): off-center 2/3-size crops on a 3x3 anchor grid
    // in SIXTHS, the crop-to-subject class the base 7-window set
    // misses structurally (Round11fSpec pins zero base-set cross
    // pairs); extended=true adds windows 7-15 at 16 hashes per
    // decode, and each thirds crop lands bit-exactly on its anchor
    // window (dist 0, PNG lossless, 48x48 masters divisible by both
    // fraction bases). Pinned golden.
    "m132_phash_thirds_crop" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id, 48, 48)
        else if (id == 20L) Multimodal.syntheticPngCrop(0, 8, 0, 40, 32, 48, 48)
        else if (id == 21L) Multimodal.syntheticPngCrop(1, 16, 16, 48, 48, 48, 48)
        else if (id == 22L) Multimodal.syntheticPngCrop(2, 0, 8, 32, 40, 48, 48)
        else if (id == 23L) Multimodal.syntheticPngCrop(3, 8, 8, 40, 40, 48, 48)
        else Multimodal.syntheticPng(id, 48, 48))
      val media = s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(PHashCrop(extended = true))(media, maxDist = 3,
        maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"), col("win_a"), col("win_b"))
    }),

    // ARBITRARY-OFFSET crop image dedup — content-anchored PEAK-PATCH
    // landmarks (the scope edge every canonical-window gate pins as a
    // non-match, closed content-side; the audio onset-anchoring trick
    // in 2D): a strict local maximum of the 3x3-box-smoothed luma and
    // its 9x9 raw-pixel patch depend only on pixels within a fixed
    // margin of the peak, so a LOSSLESS crop at ANY offset — probe 20
    // is the exact (20,12,52,44) crop m128 pins as a MISS for the
    // window tier — reproduces every interior peak's hash bit-exactly
    // and scores ~1.0 over the crop's (smaller) landmark set. Decoys
    // share nothing (81-byte noise patches never collide). Pinned
    // golden.
    "m136_peak_crop_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id, 64, 64)
        else if (id == 20L) Multimodal.syntheticPngCrop(6, 20, 12, 52, 44)
        else if (id == 21L) Multimodal.syntheticPngCrop(0, 11, 7, 43, 39)
        else if (id == 22L) Multimodal.syntheticPngCrop(1, 5, 21, 37, 53)
        else if (id == 23L) Multimodal.syntheticPngCrop(2, 17, 3, 49, 35)
        else Multimodal.syntheticPng(id, 64, 64))
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImagePeak())(media, minMatch = 0.6, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ARBITRARY-OFFSET crop VIDEO dedup — the peak-patch tier lifted
    // to the frame sequence (m138): probes are cropped at offsets on
    // no canonical-window anchor AND leading-trimmed, so every
    // whole-frame tier and the window-channel tier (m130, incl. its
    // extended thirds ladder) miss structurally (Round11hSpec pins
    // it); pooled per-frame peak landmarks ride through both — each
    // shared frame's interior peaks are the same bytes at any crop
    // offset, and pooling is order-free so the trim costs only the
    // trimmed frames' unique peaks. Master ids {0,1,10,11} and decoys
    // {200,201} are SPACED deliberately: the aviPixel generator is
    // LINEAR mod 256, so id pairs at delta 2 (and faintly 4) render
    // literal (f,x,y)-TRANSLATIONS of each other — content a
    // translation-invariant anchor CORRECTLY matches (~0.35 at
    // delta 2, measured). Fixture degeneracy, not an operator trait;
    // real corpora don't ship linearly-related pixel fields. Pinned
    // golden.
    "m138_video_peak_crop_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val avi = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, 24, w = 48, h = 48)
        else if (id == 20L) Multimodal.syntheticAvi(0, 20, w = 28, h = 24,
          frameOffset = 2, srcX0 = 7, srcY0 = 11)
        else if (id == 21L) Multimodal.syntheticAvi(1, 20, w = 28, h = 24,
          frameOffset = 2, srcX0 = 13, srcY0 = 5)
        else if (id == 22L) Multimodal.syntheticAvi(10, 20, w = 28, h = 24,
          frameOffset = 2, srcX0 = 3, srcY0 = 19)
        else if (id == 23L) Multimodal.syntheticAvi(11, 20, w = 28, h = 24,
          frameOffset = 2, srcX0 = 17, srcY0 = 9)
        else Multimodal.syntheticAvi(id, 24, w = 48, h = 48))
      val media = Seq(0L, 1L, 10L, 11L).toDF("id")
        .union(s.range(20, 24).toDF("id"))
        .union(Seq(200L, 201L).toDF("id"))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.pairs(VideoPeak(every = 1))(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // STREAMING arbitrary-offset crop video dedup (the m138 tier in
    // the streaming matrix): micro-batch 1 delivers 4 masters (ids
    // spaced per the m138 linear-generator note) — each registers its
    // pooled per-frame peak landmarks into bucket state — micro-batch
    // 2 their arbitrary-offset cropped + trimmed re-uploads;
    // shared-frame interior peaks land bit-exactly. Pinned golden.
    "st102_stream_video_peak_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      val avi = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticAvi(id, 24, w = 48, h = 48)
        else {
          val m = Seq(0L, 1L, 10L, 11L)((id - 1000000L).toInt % 4)
          ((id - 1000000L) % 4) match {
            case 0 => Multimodal.syntheticAvi(m, 20, w = 28, h = 24,
              frameOffset = 2, srcX0 = 7, srcY0 = 11)
            case 1 => Multimodal.syntheticAvi(m, 20, w = 28, h = 24,
              frameOffset = 2, srcX0 = 13, srcY0 = 5)
            case 2 => Multimodal.syntheticAvi(m, 20, w = 28, h = 24,
              frameOffset = 2, srcX0 = 3, srcY0 = 19)
            case _ => Multimodal.syntheticAvi(m, 20, w = 28, h = 24,
              frameOffset = 2, srcX0 = 17, srcY0 = 9)
          }
        })
      val staged = stageBatches("graft-stream-vpeak",
        payloads(Seq(0L, 1L, 10L, 11L).toDS(), avi),
        payloads(s.range(1000000L, 1000004L), avi))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoPeak(every = 1))(
        stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st102_out" -> hits), Share(0.6))
    }),

    // ROTATED/MIRRORED + ARBITRARY-CROP compound image dedup — the
    // m136 peak tier crossed with the dihedral-8 probe fan (m140):
    // probes are arbitrary-offset crops THEN rotated/mirrored, a
    // compound the plain peak tier (exact readout order) and every
    // window/pHash tier miss structurally (Round11hSpec pins both).
    // Peak DETECTION is dihedral-invariant, so only the patch readout
    // changes — the probe fans its 8 readouts and the orientation
    // undoing the transform lands every interior peak at 1.0. Pinned
    // golden (orient column = the detected group element).
    "m140_peak_dihedral_crop_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id, 64, 64)
        else if (id == 20L) Multimodal.pngDihedral(
          Multimodal.syntheticPngCrop(6, 20, 12, 52, 44), 1)
        else if (id == 21L) Multimodal.pngDihedral(
          Multimodal.syntheticPngCrop(0, 11, 7, 43, 39), 2)
        else if (id == 22L) Multimodal.pngDihedral(
          Multimodal.syntheticPngCrop(1, 5, 21, 37, 53), 4)
        else if (id == 23L) Multimodal.pngDihedral(
          Multimodal.syntheticPngCrop(2, 17, 3, 49, 35), 6)
        else Multimodal.syntheticPng(id, 64, 64))
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImagePeakDihedral())(media, minMatch = 0.6, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"), col("orient"))
    }),

    // LOSSY (JPEG re-encoded) arbitrary-offset crop dedup — the last
    // crop class standing (m141): the exact-hash peak tier dies
    // wholesale under quantization (every patch byte perturbs —
    // Round11hSpec pins zero exact-hash survival at q=0.92), but peak
    // POSITIONS hold and the 8x8 block-mean descriptor flips <= 2
    // bits, inside the hamming-3 chunk guarantee. Probes are crops at
    // arbitrary offsets re-encoded as JPEG at quality 0.92 — the
    // thumbnail-pipeline compound (crop + lossy save) real re-uploads
    // overwhelmingly are. Pinned golden.
    "m141_peak_lossy_crop_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id, 64, 64)
        else if (id == 20L) Multimodal.jpegReencode(
          Multimodal.syntheticPngCrop(6, 20, 12, 52, 44), 0.92f)
        else if (id == 21L) Multimodal.jpegReencode(
          Multimodal.syntheticPngCrop(0, 11, 7, 43, 39), 0.92f)
        else if (id == 22L) Multimodal.jpegReencode(
          Multimodal.syntheticPngCrop(1, 5, 21, 37, 53), 0.92f)
        else if (id == 23L) Multimodal.jpegReencode(
          Multimodal.syntheticPngCrop(2, 17, 3, 49, 35), 0.92f)
        else Multimodal.syntheticPng(id, 64, 64))
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(PeakLossy())(media, minMatch = 0.75, maxDist = 1,
        maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Incremental screen vs the persisted GRAY-MEAN descriptor index
    // — the m141 lossy-crop tier's index member (PeakDescFpVersion-
    // stamped, pHashChunkIndex layout at the peak seam): 8 masters
    // descriptor-indexed once, then an ingest batch of 4 JPEG-q0.92
    // arbitrary-offset crops plus 2 fresh images screens against it
    // with no corpus re-decode. Pinned golden.
    "m142_peak_lossy_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id, 64, 64)
        else if (id == 20L) Multimodal.jpegReencode(
          Multimodal.syntheticPngCrop(6, 20, 12, 52, 44), 0.92f)
        else if (id == 21L) Multimodal.jpegReencode(
          Multimodal.syntheticPngCrop(0, 11, 7, 43, 39), 0.92f)
        else if (id == 22L) Multimodal.jpegReencode(
          Multimodal.syntheticPngCrop(1, 5, 21, 37, 53), 0.92f)
        else if (id == 23L) Multimodal.jpegReencode(
          Multimodal.syntheticPngCrop(2, 17, 3, 49, 35), 0.92f)
        else Multimodal.syntheticPng(id, 64, 64))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.imagePeakLossyIndex(corpus)
      val probes = s.range(20, 24).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.dedupAgainstImagePeakLossyIndex(probes, index)
        .orderBy(col("doc_id"))
    }),

    // STREAMING lossy (JPEG) arbitrary-crop image dedup (the m141
    // tier in the streaming matrix): micro-batch 1 delivers 6
    // masters — gray-mean peak descriptors register per chunk
    // bucket — micro-batch 2 their JPEG-q0.92 arbitrary-offset crop
    // re-deliveries; each crop's surviving peaks land within
    // hamming-1 of the master's registered descriptors. Consumer
    // counts distinct matched peaks over the probe's peak count
    // >= 0.75. Pinned golden.
    "st105_stream_peak_lossy_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPng(id, 64, 64)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.jpegReencode(
              Multimodal.syntheticPngCrop(m, 19, 13, 51, 45), 0.92f)
            case 1 => Multimodal.jpegReencode(
              Multimodal.syntheticPngCrop(m, 9, 23, 41, 55), 0.92f)
            case 2 => Multimodal.jpegReencode(
              Multimodal.syntheticPngCrop(m, 23, 5, 55, 37), 0.92f)
            case _ => Multimodal.jpegReencode(
              Multimodal.syntheticPngCrop(m, 13, 17, 45, 49), 0.92f)
          }
        })
      val staged = stageBatches("graft-stream-peaklossy",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.imagePeakLossyVerdicts(
        stream, "doc_id", "payload", maxDist = 1, maxBucket = 64)
      val out = drain(s, "append")("st105_out" -> hits.toDF())
      val nl = out.groupBy(col("doc_id"))
        .agg(countDistinct(col("pk")).as("nl"))
      val dup = out
        .select(col("doc_id").as("d"), col("pk"),
          explode(col("hits")).as("src"))
        .groupBy(col("d"), col("src"))
        .agg(countDistinct(col("pk")).as("c"))
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .filter(col("c").cast("double") / col("nl") >= 0.75)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nl.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // CROP+RESIZE image dedup — similarity-invariant peak
    // CONSTELLATIONS (m143): probes are cropped at arbitrary offsets
    // AND uniformly rescaled (up 1.33x/1.17x/1.5x, down 0.83x), the
    // most common real re-upload compound, which every exact-pixel
    // tier (m128 windows, m136 patches, m141 descriptors) misses
    // structurally — interpolation rewrites every byte (Round11iSpec
    // pins the exact tier at zero pairs on this corpus). Direction
    // angles + log distance ratios of coarse-peak QUADS ride
    // through translation and scale together; quantization jitter
    // flips some codes, so true pairs land at 0.6-1.0 over the
    // probe's (smaller) set vs noise <= 0.25, gated at 0.4. Blob
    // fixtures, not the modular textures — those alias under
    // resampling (no detector's peaks survive). Pinned golden.
    "m143_scale_crop_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(0), 20, 12, 116, 108, 128, 128)
        else if (id == 21L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(1), 8, 16, 104, 112, 112, 112)
        else if (id == 22L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(2), 16, 16, 112, 112, 80, 80)
        else if (id == 23L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(3), 24, 8, 120, 104, 144, 144)
        else Multimodal.syntheticPngBlobs(id))
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImageScale())(media, minMatch = 0.4, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Persisted CONSTELLATION index + batch ingest screen (m144) —
    // the m143 tier's index member (ScaleFpVersion-stamped, the m137
    // contract shape): 8 blob masters fingerprint once into their
    // quad codes, then an ingest batch of 4 crop+RESIZE
    // re-uploads plus 2 fresh images screens against it with no
    // corpus re-decode — the class the exact peak index (m137) is
    // blind to. Pinned golden.
    "m144_scale_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(0), 20, 12, 116, 108, 128, 128)
        else if (id == 21L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(1), 8, 16, 104, 112, 112, 112)
        else if (id == 22L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(2), 16, 16, 112, 112, 80, 80)
        else if (id == 23L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(3), 24, 8, 120, 104, 144, 144)
        else Multimodal.syntheticPngBlobs(id))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageScale())(corpus)
      val probes = s.range(20, 24).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(ImageScale())(probes, index, minMatch = 0.4)
        .orderBy(col("doc_id"))
    }),

    // STREAMING crop+RESIZE image dedup (the m143 tier in the
    // streaming matrix): micro-batch 1 delivers 6 blob masters —
    // constellation codes enter bucket state — micro-batch 2 their
    // cropped-and-rescaled re-deliveries, which every exact-pixel
    // streaming tier (st101/st104/st105) is structurally blind to;
    // each probe's surviving quads land in its master's buckets at
    // 0.6-1.0 over the probe's set. Consumer scores shared distinct
    // landmarks over the smaller set >= 0.4. Pinned golden.
    "st106_stream_scale_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPngBlobs(id)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 20, 12, 116, 108, 128, 128)
            case 1 => Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 8, 16, 104, 112, 112, 112)
            case 2 => Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 16, 16, 112, 112, 80, 80)
            case _ => Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 24, 8, 120, 104, 144, 144)
          }
        })
      val staged = stageBatches("graft-stream-scale",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(ImageScale())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st106_out" -> hits), Share(0.4))
    }),

    // FULL similarity-compound image dedup — the dihedral ANGLE fan
    // over constellation codes (m145): probes are cropped at
    // arbitrary offsets AND uniformly rescaled AND rotated/mirrored
    // (quarter turn, half turn, mirrored turn, pure mirror) — the one
    // compound no prior tier covers end-to-end (m140 needs exact
    // pixel bytes, m143 is rotation-variant; Round11jSpec pins both
    // at zero pairs on this corpus). Distances are dihedral-
    // invariant, so the 8 readouts reuse the one decode + peak pass;
    // the readout undoing the transform recovers the m143 match
    // levels. Pinned golden.
    "m145_scale_dihedral_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.pngDihedral(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(0), 20, 12, 116, 108, 128, 128), 1)
        else if (id == 21L) Multimodal.pngDihedral(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(1), 8, 16, 104, 112, 112, 112), 2)
        else if (id == 22L) Multimodal.pngDihedral(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(2), 16, 16, 112, 112, 80, 80), 5)
        else if (id == 23L) Multimodal.pngDihedral(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(3), 24, 8, 120, 104, 144, 144), 4)
        else Multimodal.syntheticPngBlobs(id))
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImageScaleDihedral())(media, minMatch = 0.4, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Dihedral probe fan against the PLAIN constellation index
    // (m146): the index is the m144 artifact unchanged
    // (orient-0-sized — state/index never pay the 8x), only the
    // ingest batch fans its angle readouts; rotated+cropped+rescaled
    // re-uploads of corpus masters are caught where the plain screen
    // provably keeps them (Round11jSpec). Pinned golden.
    "m146_scale_index_dihedral" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.pngDihedral(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(0), 20, 12, 116, 108, 128, 128), 1)
        else if (id == 21L) Multimodal.pngDihedral(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(1), 8, 16, 104, 112, 112, 112), 5)
        else if (id == 22L) Multimodal.pngDihedral(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(2), 16, 16, 112, 112, 80, 80), 7)
        else Multimodal.syntheticPngBlobs(id))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageScale())(corpus)
      val probes = s.range(20, 23).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(ImageScaleDihedral())(probes, index, minMatch = 0.4)
        .orderBy(col("doc_id"))
    }),

    // STREAMING full-compound image dedup (the m145 tier in the
    // streaming matrix): micro-batch 1 delivers 6 blob masters —
    // orient-0 constellation codes enter bucket state — micro-batch 2
    // their cropped+rescaled+rotated/mirrored re-deliveries; each
    // probe's 8 angle readouts probe the buckets and the element
    // undoing its transform lands. Consumer scores the best
    // orientation's distinct-landmark hits over the smaller orient-0
    // count at the scale tier's 0.4 gate. Pinned golden.
    "st107_stream_scale_dihedral_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPngBlobs(id)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.pngDihedral(Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 20, 12, 116, 108, 128, 128), 1)
            case 1 => Multimodal.pngDihedral(Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 8, 16, 104, 112, 112, 112), 2)
            case 2 => Multimodal.pngDihedral(Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 16, 16, 112, 112, 80, 80), 5)
            case _ => Multimodal.pngDihedral(Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 24, 8, 120, 104, 144, 144), 4)
          }
        })
      val staged = stageBatches("graft-stream-scaledih",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(ImageScaleDihedral())(
        stream, maxBucket = 64)
      val out = drain(s, "append")("st107_out" -> hits)
      val nl = out.filter(col("orient") === 0)
        .groupBy(col("doc_id")).agg(countDistinct(col("lm")).as("nl"))
      val nlSrc = out.filter(col("orient") === 0)
        .select(col("doc_id").as("src_id"), col("lm"))
        .groupBy(col("src_id")).agg(countDistinct(col("lm")).as("nl_src"))
      val dup = out
        .select(col("doc_id").as("d"), col("orient"),
          explode(col("hits")).as("src"))
        .groupBy(col("d"), col("orient"), col("src"))
        .agg(count(lit(1)).as("c"))
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .join(nlSrc, col("src") === col("src_id"))
        .filter(col("c").cast("double") / least(col("nl"), col("nl_src"))
          >= 0.4)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nl.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // FULL thumbnail-pipeline compound (m149): crop at an arbitrary
    // offset + uniform rescale + LOSSY JPEG save (one probe at q0.85)
    // — the single most common real image re-upload shape. The
    // coarse 9x9 box-sum peaks absorb JPEG quantization noise, so
    // the constellation tier's match levels are within ~0.02 of the
    // lossless compound (m143), while the fixed-pixel-scale lossy
    // descriptor tier (m141) is provably blind (Round11iSpec pins it
    // at zero pairs on this corpus). Pinned golden.
    "m149_scale_lossy_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.jpegReencode(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(0), 20, 12, 116, 108, 128, 128), 0.92f)
        else if (id == 21L) Multimodal.jpegReencode(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(1), 8, 16, 104, 112, 112, 112), 0.92f)
        else if (id == 22L) Multimodal.jpegReencode(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(2), 16, 16, 112, 112, 80, 80), 0.92f)
        else if (id == 23L) Multimodal.jpegReencode(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(3), 24, 8, 120, 104, 144, 144), 0.85f)
        else Multimodal.syntheticPngBlobs(id))
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImageScale())(media, minMatch = 0.4, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // DEEP-lossy (JPEG q 0.5-0.7) arbitrary crops and crop+resizes —
    // the class BOTH descriptor tiers declare out (below ~0.85 the
    // fine 3x3 peaks move; m141 anchors break) — via the SAME
    // constellation tier as m149 at the measured class gate 0.2:
    // coarse box-sum blob centers hold position under quantization
    // that scrambles the fine field (round-12 measurement: true
    // fracs >= ~0.28 down to q0.3, false ceiling ~0.1 on the blob
    // corpus — the 0.2 gate splits them; m149's 0.4 gate drops the
    // deepest probes, the Round12Spec contrast). Pinned golden.
    "m163_scale_deep_lossy_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.jpegReencode(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(0), 9, 13, 105, 117, 96, 104), 0.6f)
        else if (id == 21L) Multimodal.jpegReencode(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(1), 15, 7, 111, 103, 128, 128), 0.5f)
        else if (id == 22L) Multimodal.jpegReencode(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(2), 5, 21, 101, 125, 80, 80), 0.7f)
        else if (id == 23L) Multimodal.jpegReencode(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(3), 11, 11, 119, 119, 144, 144), 0.5f)
        else Multimodal.syntheticPngBlobs(id))
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImageScale())(media, minMatch = 0.2, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ARBITRARY-ANGLE rotation dedup (m150): rotation-invariant
    // constellation codes — angle DIFFERENCES relative to the A->B
    // direction (rotation cancels in the difference) with a third
    // distance ratio recovering the dropped angle's entropy. Probes
    // are rotated 17 deg / -8 deg + 1.2x / 33 deg + 0.9x / 3 deg (the
    // scanned-page skew) — the class the dihedral fan (90-degree
    // grid, Round11lSpec pins it at zero pairs on this corpus) and
    // every exact-pixel tier miss structurally. Mirrors stay with the
    // dihedral fan (chirality flips here by design). Pinned golden.
    "m150_rot_scale_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.pngRotateResize(
          Multimodal.syntheticPngBlobs(0), 17.0)
        else if (id == 21L) Multimodal.pngRotateResize(
          Multimodal.syntheticPngBlobs(1), -8.0, 1.2)
        else if (id == 22L) Multimodal.pngRotateResize(
          Multimodal.syntheticPngBlobs(2), 33.0, 0.9)
        else if (id == 23L) Multimodal.pngRotateResize(
          Multimodal.syntheticPngBlobs(3), 3.0)
        else Multimodal.syntheticPngBlobs(id))
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImageRotScale())(media, minMatch = 0.2, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Persisted rotation-invariant index + batch ingest screen
    // (m151) — the m150 tier's index member (RotScaleFpVersion=12001,
    // incomparable with the plain-scale family's 11002 — Round11lSpec
    // pins the cross-family rejection): 8 blob masters fingerprint
    // once, then an ingest batch of 3 rotated re-uploads plus 2 fresh
    // images screens with no corpus re-decode. Pinned golden.
    "m151_rot_scale_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.pngRotateResize(
          Multimodal.syntheticPngBlobs(0), 17.0)
        else if (id == 21L) Multimodal.pngRotateResize(
          Multimodal.syntheticPngBlobs(1), -8.0, 1.2)
        else if (id == 22L) Multimodal.pngRotateResize(
          Multimodal.syntheticPngBlobs(2), 3.0)
        else Multimodal.syntheticPngBlobs(id))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageRotScale())(corpus)
      val probes = s.range(20, 23).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(ImageRotScale())(probes, index, minMatch = 0.2)
        .orderBy(col("doc_id"))
    }),

    // STREAMING arbitrary-angle rotation dedup (the m150 tier in the
    // streaming matrix): micro-batch 1 delivers 6 blob masters —
    // rotation-invariant codes enter bucket state — micro-batch 2
    // their rotated (+rescaled) re-deliveries, which the dihedral
    // streaming fan (st107) is structurally blind to. Consumer scores
    // shared distinct landmarks over the smaller set >= 0.3. Pinned
    // golden.
    "st110_stream_rot_scale_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPngBlobs(id)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.pngRotateResize(
              Multimodal.syntheticPngBlobs(m), 17.0)
            case 1 => Multimodal.pngRotateResize(
              Multimodal.syntheticPngBlobs(m), -8.0, 1.2)
            case 2 => Multimodal.pngRotateResize(
              Multimodal.syntheticPngBlobs(m), 33.0, 0.9)
            case _ => Multimodal.pngRotateResize(
              Multimodal.syntheticPngBlobs(m), 3.0)
          }
        })
      val staged = stageBatches("graft-stream-rotscale",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(ImageRotScale())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st110_out" -> hits), Share(0.2))
    }),

    // ANISOTROPIC resize (aspect-squeeze) dedup (m152): 4:3 <-> 16:9
    // display conversions squeeze x by 0.75 / stretch by 4/3 — which
    // breaks distances AND angles, so the plain scale tier and the
    // rot tier are both structurally blind (Round11mSpec pins both at
    // zero pairs). The probe-side HYPOTHESIS fan re-renders the peak
    // geometry under each inverse factor (one decode, one detection
    // pass); the hypothesis undoing the squeeze reproduces the
    // master's quad codes. Output orient = hypothesis index (1=0.75,
    // 2=4/3). Pinned golden.
    "m152_aspect_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(0), 0, 0, 128, 128, 96, 128)
        else if (id == 21L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(1), 0, 0, 128, 128, 171, 128)
        else if (id == 22L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(2), 0, 0, 128, 128, 96, 128)
        else if (id == 23L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(3), 0, 0, 128, 128, 171, 128)
        else Multimodal.syntheticPngBlobs(id))
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImageScaleAspect())(media, minMatch = 0.3, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Aspect-hypothesis fan against the PLAIN constellation index
    // (m153): the m144 artifact unchanged — only the ingest batch
    // fans its readouts; squeezed re-uploads of corpus masters are
    // caught where the plain screen provably keeps them. Pinned
    // golden.
    // UNKNOWN-anisotropy resize (m160 — closes the round-11 scope
    // line): squeeze factors OUTSIDE the display-conversion fan
    // (1.196:1 squeeze and 1.164:1 widen — both > 10% from every
    // default hypothesis, and the fan's log-ratio bins absorb only
    // ~±7%, so m152-at-default-fan provably misses both; pinned as
    // contrast in Round12Spec). The moment-normalized tier maps every
    // doc's peak cloud to isotropic second moments before quad
    // coding, so the factor cancels without enumeration. Pinned
    // golden.
    "m160_aspect_norm_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(0), 0, 0, 128, 128, 107, 128)
        else if (id == 21L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(1), 0, 0, 128, 128, 107, 128)
        else if (id == 22L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(2), 0, 0, 128, 128, 149, 128)
        else if (id == 23L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(3), 0, 0, 128, 128, 149, 128)
        else Multimodal.syntheticPngBlobs(id))
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImageScaleNormalized())(media, minMatch = 0.3,
        maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "m153_aspect_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(0), 0, 0, 128, 128, 96, 128)
        else if (id == 21L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(1), 0, 0, 128, 128, 171, 128)
        else Multimodal.syntheticPngBlobs(id))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageScale())(corpus)
      val probes = s.range(20, 22).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(ImageScaleAspect())(probes, index, minMatch = 0.3)
        .orderBy(col("doc_id"))
    }),

    // STREAMING aspect-squeeze dedup (the m152 tier in the streaming
    // matrix): micro-batch 1 delivers 6 blob masters — identity
    // readouts enter bucket state — micro-batch 2 their squeezed
    // (0.75 / 4:3-stretched) re-deliveries; each probe's undoing
    // hypothesis lands in its master's buckets. Consumer scores the
    // best hypothesis' distinct-landmark hits over the smaller
    // identity count at the 0.3 gate. Pinned golden.
    "st111_stream_aspect_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPngBlobs(id)
        else {
          val m = id - 1000000L
          if (m % 2 == 0) Multimodal.pngCropResize(
            Multimodal.syntheticPngBlobs(m), 0, 0, 128, 128, 96, 128)
          else Multimodal.pngCropResize(
            Multimodal.syntheticPngBlobs(m), 0, 0, 128, 128, 171, 128)
        })
      val staged = stageBatches("graft-stream-aspect",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(ImageScaleAspect())(
        stream, maxBucket = 64)
      val out = drain(s, "append")("st111_out" -> hits)
      val nl = out.filter(col("orient") === 0)
        .groupBy(col("doc_id")).agg(countDistinct(col("lm")).as("nl"))
      val nlSrc = out.filter(col("orient") === 0)
        .select(col("doc_id").as("src_id"), col("lm"))
        .groupBy(col("src_id")).agg(countDistinct(col("lm")).as("nl_src"))
      val dup = out
        .select(col("doc_id").as("d"), col("orient"),
          explode(col("hits")).as("src"))
        .groupBy(col("d"), col("orient"), col("src"))
        .agg(count(lit(1)).as("c"))
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .join(nlSrc, col("src") === col("src_id"))
        .filter(col("c").cast("double") / least(col("nl"), col("nl_src"))
          >= 0.3)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nl.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // Any-angle-rotated VIDEO dedup (m154): pooled per-frame
    // ROTATION-invariant constellation codes — the sideways-phone /
    // tilted re-render class (17 deg / -8 deg + 1.2x / 90 deg /
    // 33 deg + 2-frame trim), which the rotation-variant video
    // constellation tier provably misses (Round11nSpec). Pinned
    // golden.
    "m154_video_rot_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(0, 6), 17.0)
        else if (id == 21L) Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(1, 6), -8.0, 1.2)
        else if (id == 22L) Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(2, 6), 90.0)
        else if (id == 23L) Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(3, 6), 33.0, 1.0, 2)
        else Multimodal.syntheticAviBlobs(id, 6))
      val media = s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(VideoRotScale())(media, minMatch = 0.2, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Persisted any-angle VIDEO rotation index + ingest screen (m155)
    // — the m154 tier's index member (RotScaleFpVersion via the
    // shared kernel): 6 blob-frame masters fingerprint once, then an
    // ingest batch of 3 rotated re-uploads plus 2 fresh videos
    // screens with no corpus re-decode. Pinned golden.
    "m155_video_rot_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(0, 6), 17.0)
        else if (id == 21L) Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(1, 6), -8.0, 1.2)
        else if (id == 22L) Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(2, 6), 90.0)
        else Multimodal.syntheticAviBlobs(id, 6))
      val corpus = s.range(0, 6)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(VideoRotScale())(corpus)
      val probes = s.range(20, 23).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(VideoRotScale())(probes, index, minMatch = 0.2)
        .orderBy(col("doc_id"))
    }),

    // STREAMING any-angle-rotated video dedup (the m154 tier in the
    // streaming matrix): micro-batch 1 delivers 6 blob-frame
    // masters — pooled rotation-invariant codes enter bucket state —
    // micro-batch 2 their rotated (+rescaled/trimmed) re-deliveries.
    // Consumer scores shared distinct landmarks over the smaller
    // pooled set >= 0.2. Pinned golden.
    "st112_stream_video_rot_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticAviBlobs(id, 6)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.aviRotateResizeDib(
              Multimodal.syntheticAviBlobs(m, 6), 17.0)
            case 1 => Multimodal.aviRotateResizeDib(
              Multimodal.syntheticAviBlobs(m, 6), -8.0, 1.2)
            case 2 => Multimodal.aviRotateResizeDib(
              Multimodal.syntheticAviBlobs(m, 6), 90.0)
            case _ => Multimodal.aviRotateResizeDib(
              Multimodal.syntheticAviBlobs(m, 6), 33.0, 1.0, 2)
          }
        })
      val staged = stageBatches("graft-stream-vidrot",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoRotScale())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st112_out" -> hits), Share(0.2))
    }),

    // UNKNOWN STRONG (>= ~1.5:1) squeezes — the class the default
    // hypothesis fan misses whole (an unknown factor is, by
    // definition, not in the set — 0/4 at 1.5-1.7:1) and the
    // peak-cloud normalization (m160) drops in part (blobs merge
    // under the squeeze and the detected peak set itself is damaged;
    // 3/4 here, doc-dependent) — via the CANONICAL tier (m165): the
    // luma-moment squeeze estimate resamples the IMAGE to isotropic
    // (always upscaling the squeezed axis) BEFORE detection, so
    // merged blobs separate again. The fan WITH the true factor
    // enumerated still covers (spec-pinned) — it stays the verify
    // tier for known display conversions. Probes: 1.6:1 x-squeeze, 1.5:1 squeeze + 0.8x
    // uniform, 1.7:1 + JPEG q0.85, 1.6:1 VERTICAL squeeze. Pinned
    // golden.
    "m165_scale_strong_squeeze" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(0), 0, 0, 128, 128, 80, 128)
        else if (id == 21L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(1), 0, 0, 128, 128, 68, 102)
        else if (id == 22L) Multimodal.jpegReencode(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(2), 0, 0, 128, 128, 75, 128), 0.85f)
        else if (id == 23L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(3), 0, 0, 128, 128, 128, 80)
        else Multimodal.syntheticPngBlobs(id))
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImageScaleCanonical())(media, minMatch = 0.3, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Persisted CANONICAL constellation index + ingest screen (m166)
    // — the m165 tier's incremental member (CanonFpVersion): 8 blob
    // masters fingerprint once on their moment-isotropic renderings,
    // then an ingest batch of 4 unknown-strong-squeeze re-uploads
    // (the m165 probe shapes) plus 2 fresh docs screens with no
    // corpus re-decode. Pinned golden.
    "m166_canonical_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(0), 0, 0, 128, 128, 80, 128)
        else if (id == 21L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(1), 0, 0, 128, 128, 68, 102)
        else if (id == 22L) Multimodal.jpegReencode(Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(2), 0, 0, 128, 128, 75, 128), 0.85f)
        else if (id == 23L) Multimodal.pngCropResize(
          Multimodal.syntheticPngBlobs(3), 0, 0, 128, 128, 128, 80)
        else Multimodal.syntheticPngBlobs(id))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageScaleCanonical())(corpus)
      val probes = s.range(20, 24).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(ImageScaleCanonical())(probes, index, minMatch = 0.3)
        .orderBy(col("doc_id"))
    }),

    // FULL-AFFINE image dedup (m169): rotation x anisotropic squeeze
    // x uniform scale, ALL unknown — the anamorphic rip of a tilted
    // re-render, which the rot-invariant tier (uniform-scale model),
    // the axis-aligned canonical tier, and the cloud normalization
    // all measure 0/4 on (Round12Spec contrast). One-shot SYMMETRIC
    // whitening (W = sqrt(lmax) * C^(-1/2) of the luma covariance,
    // closed-form 2x2, upscale-only, single resample): two whitened
    // renderings of affinely-related content differ by a pure
    // rotation, absorbed by the rotation-invariant 5-point codes.
    // Probes at 20 deg + 1.6:1, -11 deg + 1.6:1, 20 deg + 1.5:1,
    // 33 deg + 1.6:1. Pinned golden.
    "m169_affine_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def probe(src: Long, deg: Double, outW: Int): Array[Byte] =
          Multimodal.pngCropResize(Multimodal.pngRotateResize(
            Multimodal.syntheticPngBlobs(src), deg), 0, 0, 128, 128,
            outW, 128)
        if (id == 20L) probe(0, 20.0, 80)
        else if (id == 21L) probe(1, -11.0, 80)
        else if (id == 22L) probe(2, 20.0, 85)
        else if (id == 23L) probe(3, 33.0, 80)
        else Multimodal.syntheticPngBlobs(id)
      })
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImageAffine())(media, minMatch = 0.25, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Persisted AFFINE index + ingest screen (m170 — the m169 tier's
    // incremental member, AffineFpVersion): 8 masters fingerprint
    // once on their whitened renderings, then the m169 probe batch
    // plus 2 fresh docs screens with no corpus re-decode. Pinned
    // golden.
    "m170_affine_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def probe(src: Long, deg: Double, outW: Int): Array[Byte] =
          Multimodal.pngCropResize(Multimodal.pngRotateResize(
            Multimodal.syntheticPngBlobs(src), deg), 0, 0, 128, 128,
            outW, 128)
        if (id == 20L) probe(0, 20.0, 80)
        else if (id == 21L) probe(1, -11.0, 80)
        else if (id == 22L) probe(2, 20.0, 85)
        else if (id == 23L) probe(3, 33.0, 80)
        else Multimodal.syntheticPngBlobs(id)
      })
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageAffine())(corpus)
      val probes = s.range(20, 24).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(ImageAffine())(probes, index, minMatch = 0.25)
        .orderBy(col("doc_id"))
    }),

    // CROP x FULL-AFFINE image dedup (m174 — the round-12 verdict's
    // top user-hittable recall gap): a re-upload that was CROPPED and
    // tilted and anamorphically squeezed, all unknown. The m169
    // whitening is structurally out (the crop changes the luma
    // covariance estimate itself) and every crop ladder assumes
    // axis-aligned geometry (Round13Spec pins both at 0/10 on this
    // corpus). Codes are EXACT affine invariants: per anchor peak,
    // oriented pairs of its nearest co-peaks span an affine basis and
    // the other near co-peaks' basis coordinates ride through any
    // orientation-preserving affine map — geometric hashing, no
    // estimator (the round-13 design lesson: k-NN displacement
    // covariance whitening DIVERGES — selection bias has the opposite
    // sign of the geometry). Probes: central-75% crop re-rendered at
    // source size, rotations {17, -23, 9, 33} deg, squeezes
    // {1.4, 1.3, 1.45, 1.35}:1. Pinned golden.
    "m174_affine_frame_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, deg: Double, outW: Int): Array[Byte] =
          Multimodal.pngCropResize(Multimodal.pngRotateResize(
            Multimodal.pngCropResize(blobs(src), 32, 32, 224, 224,
              256, 256), deg), 0, 0, 256, 256, outW, 256)
        if (id == 20L) probe(0, 17.0, 183)
        else if (id == 21L) probe(1, -23.0, 197)
        else if (id == 22L) probe(2, 9.0, 177)
        else if (id == 23L) probe(3, 33.0, 190)
        else blobs(id)
      })
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImageAffineFrame())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Persisted AFFINE-FRAME index + ingest screen (m176 — the m174
    // tier's incremental member, AffineFrameFpVersion): 8 masters
    // fingerprint once, then the m174 probe batch plus 2 fresh docs
    // screens with no corpus re-decode. Pinned golden.
    "m176_affine_frame_index" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, deg: Double, outW: Int): Array[Byte] =
          Multimodal.pngCropResize(Multimodal.pngRotateResize(
            Multimodal.pngCropResize(blobs(src), 32, 32, 224, 224,
              256, 256), deg), 0, 0, 256, 256, outW, 256)
        if (id == 20L) probe(0, 17.0, 183)
        else if (id == 21L) probe(1, -23.0, 197)
        else if (id == 22L) probe(2, 9.0, 177)
        else if (id == 23L) probe(3, 33.0, 190)
        else blobs(id)
      })
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageAffineFrame())(corpus)
      val probes = s.range(20, 24).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(ImageAffineFrame())(probes, index)
        .orderBy(col("doc_id"))
    }),

    // STREAMING full-affine image dedup (st120 — the m169 tier in the
    // streaming matrix): micro-batch 1 delivers 6 blob masters
    // (whitened rot codes enter bucket state), micro-batch 2 their
    // rotated+squeezed re-deliveries. Consumer scores at the 0.25
    // gate. Pinned golden.
    "st120_stream_affine_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPngBlobs(id)
        else {
          val m = id - 1000000L
          val (deg, outW) = (m % 4) match {
            case 0 => (20.0, 80)
            case 1 => (-11.0, 80)
            case 2 => (20.0, 85)
            case _ => (33.0, 80)
          }
          Multimodal.pngCropResize(Multimodal.pngRotateResize(
            Multimodal.syntheticPngBlobs(m), deg), 0, 0, 128, 128,
            outW, 128)
        })
      val staged = stageBatches("graft-stream-affine",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(ImageAffine())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st120_out" -> hits), Share(0.25))
    }),

    // FULL-AFFINE video dedup (m171 — the m169 whitening pooled per
    // sampled frame): videos TILTED and anamorphically re-ripped at
    // unknown factors (17 deg + 1.6:1, -8 deg + 1.6:1 vertical,
    // 20 deg + 1.5:1 + 2-frame trim) — the rot-invariant and
    // canonical video tiers are both structurally blind
    // (Round12Spec contrast). Pinned golden.
    "m171_video_affine_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def probe(src: Long, deg: Double, ow: Int, oh: Int,
            from: Int): Array[Byte] =
          Multimodal.aviCropResizeDib(Multimodal.aviRotateResizeDib(
            Multimodal.syntheticAviBlobs(src, 6), deg), 0, 0, 96, 96,
            ow, oh, from)
        if (id == 20L) probe(0, 17.0, 60, 96, 0)
        else if (id == 21L) probe(1, -8.0, 96, 60, 0)
        else if (id == 22L) probe(2, 20.0, 64, 96, 2)
        else Multimodal.syntheticAviBlobs(id, 6)
      })
      val media = s.range(0, 6).union(s.range(20, 23))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(VideoAffine())(media, minMatch = 0.25, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // CROP x FULL-AFFINE video dedup (m177 — the m174 tier lifted to
    // the frame sequence): a video that was CROPPED, tilted, AND
    // anamorphically re-ripped, all factors unknown — the m171
    // whitened video tier is structurally out (the crop changes its
    // covariance estimate). Exact affine-invariant local-frame codes
    // per sampled frame, pooled DISTINCT per doc, scored at the m174
    // gate. 192px 18-blob frames (the compound probe loses border
    // peaks to crop + rotation clip + detector margin). Probes:
    // central-75% crop re-rendered at source size, rotations
    // {17, -23, 9} deg, squeezes {1.4, 1.3, 1.45}:1; one probe also
    // leading-TRIMMED 2 frames. Pinned golden.
    "m177_video_affine_frame_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def master(src: Long): Array[Byte] =
          Multimodal.syntheticAviBlobs(src, 6, 192, 192, 18, 22.0)
        def probe(src: Long, deg: Double, ow: Int, from: Int): Array[Byte] =
          Multimodal.aviCropResizeDib(Multimodal.aviRotateResizeDib(
            Multimodal.aviCropResizeDib(master(src), 24, 24, 168, 168,
              192, 192), deg), 0, 0, 192, 192, ow, 192, from)
        if (id == 20L) probe(0, 17.0, 137, 0)
        else if (id == 21L) probe(1, -23.0, 148, 0)
        else if (id == 22L) probe(2, 9.0, 132, 2)
        else master(id)
      })
      val media = s.range(0, 6).union(s.range(20, 23))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(VideoAffineFrame())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // VERIFIED crop x affine pairs (m179 — the m159 candidate+verify
    // pattern lifted to images): affine-frame codes nominate at a LOW
    // gate (measured: missed planted compounds score 0.006-0.019,
    // just under m174's gate, while the 32k decoy tail also reaches
    // it — no single threshold separates), then RANSAC over matched-
    // code anchor correspondences fits the affine map (conditioning-
    // guarded) and the verdict is the INJECTIVE aligned count AND
    // fraction of the anchor clouds (the absolute floor exists
    // because any solvable triple aligns its own 3 anchors for free).
    // Probes: two MEASURED gray-zone compounds the m174 code gate
    // drops (70% crop x 23 deg at code 0.0161; 66% crop x 17 deg at
    // 0.0085 — the verify tier's reason to exist, spec-pinned in
    // Round13Spec) plus two standard m174-class compounds both tiers
    // land. Pinned golden.
    "m179_affine_frame_verified" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, c0: Int, c1: Int, deg: Double,
            outW: Int): Array[Byte] =
          Multimodal.pngCropResize(Multimodal.pngRotateResize(
            Multimodal.pngCropResize(blobs(src), c0, c0, c1, c1,
              256, 256), deg), 0, 0, 256, 256, outW, 256)
        if (id == 20L) probe(3, 38, 218, -23.0, 197) // gray: code 0.0161
        else if (id == 21L) probe(6, 44, 212, 17.0, 183) // gray: 0.0085
        else if (id == 22L) probe(0, 32, 224, 17.0, 183) // m174-class
        else if (id == 23L) probe(1, 40, 216, 33.0, 169) // m174-class
        else blobs(id)
      })
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.imageAffineFramePairsVerified(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MIRROR x CROP x FULL-AFFINE image dedup (m181): the base
    // affine-frame family is chirality-FIXED by design (oriented
    // bases, det > 0), so a mirrored re-upload of a cropped, tilted,
    // squeezed image is invisible to it — and to the dihedral fans,
    // whose 90-degree grid cannot reach arbitrary-angle compounds. A
    // mirrored rendering's invariant coordinates swap (u, v) exactly,
    // so the MIRROR readout is a pure Long->Long repack of the
    // identity codes (no second detection or code pass); the m140/
    // m145 asymmetric fan shape keeps indexes identity-sized. orient
    // 1 = landed via the mirror readout. Pinned golden.
    "m181_affine_frame_chiral" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, deg: Double, outW: Int): Array[Byte] =
          Multimodal.pngDihedral(
            Multimodal.pngCropResize(Multimodal.pngRotateResize(
              Multimodal.pngCropResize(blobs(src), 32, 32, 224, 224,
                256, 256), deg), 0, 0, 256, 256, outW, 256), 4)
        if (id == 20L) probe(0, 17.0, 183)
        else if (id == 21L) probe(1, -23.0, 197)
        else if (id == 22L) probe(2, 9.0, 177)
        else if (id == 23L) probe(3, 33.0, 190)
        else blobs(id)
      })
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.imageAffineFramePairsChiral(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"), col("orient"))
    }),

    // VERIFIED chiral pairs (m183 — the m179 verdict on the MIRROR
    // compound): m181's code gate inherits the identity gate's
    // gray-zone fragility verbatim (the mirror readout is pure code
    // arithmetic), so candidates nominate at the LOW gate over the
    // m181 asymmetric fan and verify with the map chirality MATCHED
    // to the readout (orient 1 admits det < 0 affines only). Probes:
    // the two m179 gray-zone compounds MIRRORED (the m181 gate drops
    // them — Round14Spec pins the contrast, plus m179's own zero
    // rows on this corpus: the identity verified tier is chirality-
    // fixed by design) and two m174-class mirrored compounds both
    // tiers land. Pinned golden.
    "m183_affine_frame_chiral_verified" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, c0: Int, c1: Int, deg: Double,
            outW: Int): Array[Byte] =
          Multimodal.pngDihedral(
            Multimodal.pngCropResize(Multimodal.pngRotateResize(
              Multimodal.pngCropResize(blobs(src), c0, c0, c1, c1,
                256, 256), deg), 0, 0, 256, 256, outW, 256), 4)
        if (id == 20L) probe(3, 38, 218, -23.0, 197)      // gray-zone
        else if (id == 21L) probe(6, 44, 212, 17.0, 183)  // gray-zone
        else if (id == 22L) probe(0, 32, 224, 17.0, 183)  // m174-class
        else if (id == 23L) probe(1, 40, 216, 33.0, 169)  // m174-class
        else blobs(id)
      })
      val media = s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.imageAffineFramePairsChiralVerified(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"), col("orient"))
    }),

    // CROP x ROTATION x EXTREME-SQUEEZE image dedup (m184 — the m152
    // de-squeeze hypothesis fan at the affine-frame seam): measured
    // boundary first — the base m174 tier's exact affine invariants
    // hold 12/12 through 2.5:1 on this gate class (the old ~1.5:1
    // line came from the denser 128px corpus), then its nearest-
    // neighbor/conditioning selection breaks: 4/12 over 3.0-4.0:1.
    // The fan re-renders the DETECTED peak cloud per hypothesis
    // factor (both axes — the squeeze axis is unknown; detection
    // runs once, no extra decode) and lands 9/12 there at the same
    // gate with zero spurious. Probes: four measured base-tier
    // misses (3.0-4.0:1 x {17, -23} deg x both axes on a central-75%
    // crop); Round14Spec pins the base 0/4 contrast AND the revised
    // 2.0:1 base-LANDS boundary. Pinned golden.
    "m184_affine_frame_squeeze_fan" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, deg: Double, sq: Double,
            ax: Int): Array[Byte] = {
          val rot = Multimodal.pngRotateResize(Multimodal.pngCropResize(
            blobs(src), 32, 32, 224, 224, 256, 256), deg)
          if (ax == 0)
            Multimodal.pngCropResize(rot, 0, 0, 256, 256,
              math.round(256 / sq).toInt, 256)
          else
            Multimodal.pngCropResize(rot, 0, 0, 256, 256, 256,
              math.round(256 / sq).toInt)
        }
        if (id == 20L) probe(0, -23.0, 3.0, 0)
        else if (id == 21L) probe(0, 17.0, 3.5, 0)
        else if (id == 22L) probe(5, -23.0, 3.5, 1)
        else if (id == 23L) probe(3, -23.0, 4.0, 1)
        else blobs(id)
      })
      val media = s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(ImageAffineFrameSqueezeFan())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"), col("orient"))
    }),

    // DATA-PROPORTIONAL affine-frame growth member (m185): the
    // ScaleCheck crop x affine corpus (256px 24-blob masters, ~1/10
    // planted central-75%-crop x rotation x squeeze re-uploads) sized
    // by the data dir's documents count (a fixed 1/10 sample, floored
    // at the sf0.01 count so the pinned golden is the full 500-doc
    // corpus — per-image decode dominates this family, and the
    // growth artifact needs the LINEAR ratio, not the largest
    // absolute corpus), reduced to the recall/spurious aggregate.
    // This puts the tier in GrowthBench's 10x set — wall grows with
    // the corpus (generation + decode + code join are all linear),
    // output stays one row. Pinned golden at sf0.01 (n=500: the
    // recall numerator is deterministic — generation is a pure
    // function of the row id).
    "m185_affine_frame_growth" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val n = math.max(500, t(s, dir, "documents").count().toInt / 10)
      val media = graft.tools.ScaleCheck.cropAffinePngs(s, n)
      val planted = col("doc_b") - col("doc_a") === 9 &&
        col("doc_b") % 10 === 9
      Multimodal.pairs(ImageAffineFrame())(media, maxDf = 500)
        .agg(lit(n).as("corpus_n"),
          sum(when(planted, 1).otherwise(0)).as("planted_found"),
          sum(when(!planted, 1).otherwise(0)).as("spurious"))
    }),

    // m185's VERIFIED sibling (m186): the m179 RANSAC tier over the
    // same data-proportional corpus — recall strictly above the code
    // gate with the spurious tail verified away, per-candidate
    // arithmetic only. GrowthBench member; pinned golden at sf0.01.
    "m186_affine_frame_verified_growth" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val n = math.max(500, t(s, dir, "documents").count().toInt / 10)
      val media = graft.tools.ScaleCheck.cropAffinePngs(s, n)
      val planted = col("doc_b") - col("doc_a") === 9 &&
        col("doc_b") % 10 === 9
      Multimodal.imageAffineFramePairsVerified(media, maxDf = 500)
        .agg(lit(n).as("corpus_n"),
          sum(when(planted, 1).otherwise(0)).as("planted_found"),
          sum(when(!planted, 1).otherwise(0)).as("spurious"))
    }),

    // PHOTOGRAPHIC-texture member (m192): the m185/m186 planted
    // compounds over JPEG-textured masters (blob structure layered
    // with illumination gradient, value-noise texture, sensor grain,
    // then lossy-encoded — and the re-upload saved lossy too), so the
    // affine-frame family's headline recall/spurious numbers are
    // MEASURED off blob-world: texture shifts peak values, seeds
    // spurious weak peaks, and JPEG noise perturbs every pixel the
    // detector smooths. One pinned row per tier — the code gate and
    // the RANSAC verify — over the same corpus (measured at n=500:
    // code 40/50 planted, verified 48/50, zero spurious on both; the
    // blob-world verified pin is 49/50). GrowthBench member; pinned
    // golden at sf0.01.
    "m192_affine_frame_textured_growth" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val n = math.max(500, t(s, dir, "documents").count().toInt / 10)
      val media = graft.tools.ScaleCheck.cropAffineJpegTextured(s, n)
      val planted = col("doc_b") - col("doc_a") === 9 &&
        col("doc_b") % 10 === 9
      def tier(name: String, pairs: DataFrame): DataFrame =
        pairs.agg(lit(name).as("tier"), lit(n).as("corpus_n"),
          sum(when(planted, 1).otherwise(0)).as("planted_found"),
          sum(when(!planted, 1).otherwise(0)).as("spurious"))
      // one decode for both tiers (round 16): the anchored landmark
      // table feeds the code gate AND the RANSAC verify — decode is
      // the dominant linear cost on a media corpus, and the former
      // two-decode shape paid it twice for byte-identical output
      val (code, verified) =
        Multimodal.imageAffineFrameTiers(media, maxDf = 500)
      tier("code", code)
        .unionByName(tier("verified", verified))
        .orderBy(col("tier"))
    }),

    // AUTO-CAP gate (m193 — SCALE.md's df-cap deployment rule
    // promoted into the operator): the verified tier at a cap the
    // engine SOLVED from the measured df distribution and a byte
    // budget, not a hand knob. One anchored decode; solveDfCap reads
    // its df histogram (one pass, bounded driver rows), picks the
    // largest cap whose corr-row explode fits 14 MiB at width 32 —
    // deliberately tight: this fixture's UNCAPPED explode is
    // 15,074,048 B (measured histogram, n=500: 471,064 pair rows), so
    // the solver must BIND at an INTERIOR cap (11 — cum 14,650,592 B;
    // cap 12 would cost 14,775,008 B > 14 MiB), not the floor, and
    // the pinned row proves the solved operating point keeps the
    // verified tier's recall with zero spurious. The solved cap is
    // pinned IN the output (self-reporting beats an accumulator).
    "m193_affine_frame_autocap" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val n = 500
      val media = graft.tools.ScaleCheck.cropAffinePngs(s, n)
      val planted = col("doc_b") - col("doc_a") === 9 &&
        col("doc_b") % 10 === 9
      val anchored = graft.operators.Materialize.eager(
        Multimodal.ImageAffineFrameAnchored().landmarks(media))
      val cap = Multimodal.solveDfCap(
        anchored.select(col("doc_id"), col("lm")), 32, 14L << 20)
      Multimodal.affineFramePairsVerifiedFrom(anchored, maxDf = cap)
        .agg(lit(n).as("corpus_n"), lit(cap).as("solved_cap"),
          sum(when(planted, 1).otherwise(0)).as("planted_found"),
          sum(when(!planted, 1).otherwise(0)).as("spurious"))
    }),

    // TEXTURED auto-cap gate (m194 — round-17: the 50k textured
    // acceptance, which lived only in one-off tool logs, scaled into a
    // standing suite pin on the photo-world fixture class). Same
    // composition as m193 but over the lossy-JPEG textured corpus,
    // solved at width 16 — the verified tier's count-first candidate
    // pass shuffles (doc_a, doc_b) rows only — under a budget chosen
    // to BIND at an interior cap: this fixture's uncapped w16 explode
    // is 8,900,640 B (census: 556,290 pair rows at n=500), so 8 MiB
    // solves to cap 8 (cum 8,199,696 B; cap 9 would cost 8,399,920 B)
    // — neither the floor (2) nor the max observed df (22). The
    // pinned row proves the interior-solved operating point holds the
    // textured class's verified recall with zero spurious.
    "m194_affine_frame_textured_autocap" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val n = 500
      val media = graft.tools.ScaleCheck.cropAffineJpegTextured(s, n)
      val planted = col("doc_b") - col("doc_a") === 9 &&
        col("doc_b") % 10 === 9
      val anchored = graft.operators.Materialize.eager(
        Multimodal.ImageAffineFrameAnchored().landmarks(media))
      val cap = Multimodal.solveDfCap(
        anchored.select(col("doc_id"), col("lm")), 16, 8L << 20)
      Multimodal.affineFramePairsVerifiedFrom(anchored, maxDf = cap)
        .agg(lit(n).as("corpus_n"), lit(cap).as("solved_cap"),
          sum(when(planted, 1).otherwise(0)).as("planted_found"),
          sum(when(!planted, 1).otherwise(0)).as("spurious"))
    }),

    // VERIFIED index screen (m180 — the m179 verdict at the
    // incremental seam): one pinned output carries BOTH screens'
    // verdicts over the same probe batch — the PLAIN code-gate screen
    // (tier "code") drops the two measured gray-zone compounds, the
    // VERIFIED screen (tier "verified", RANSAC against the ANCHORED
    // index's clouds, no corpus re-decode) lands them; fresh probes
    // stay kept under both. The scope contrast is the golden itself.
    "m180_affine_frame_verified_screen" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, c0: Int, c1: Int, deg: Double,
            outW: Int): Array[Byte] =
          Multimodal.pngCropResize(Multimodal.pngRotateResize(
            Multimodal.pngCropResize(blobs(src), c0, c0, c1, c1,
              256, 256), deg), 0, 0, 256, 256, outW, 256)
        if (id == 20L) probe(3, 38, 218, -23.0, 197) // gray: code 0.0161
        else if (id == 21L) probe(6, 44, 212, 17.0, 183) // gray: 0.0085
        else if (id == 22L) probe(0, 32, 224, 17.0, 183) // m174-class
        else blobs(id)
      })
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val probes = s.range(20, 23).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val plain = Multimodal.screen(ImageAffineFrame())(probes,
        Multimodal.index(ImageAffineFrame())(corpus))
        .select(lit("code").as("tier"), col("doc_id"), col("kept"),
          col("dup_src"))
      val verified = Multimodal.dedupAgainstImageAffineFrameIndexVerified(probes,
        Multimodal.index(ImageAffineFrameAnchored())(corpus))
        .select(lit("verified").as("tier"), col("doc_id"), col("kept"),
          col("dup_src"))
      plain.unionByName(verified).orderBy(col("tier"), col("doc_id"))
    }),

    // Persisted AFFINE-FRAME video index + ingest screen (m178 — the
    // m177 tier's incremental member, AffineFrameFpVersion via the
    // shared code kernel): 6 video masters fingerprint once, then the
    // m177 probe batch plus 2 fresh videos screens with no corpus
    // re-decode. Pinned golden.
    "m178_video_affine_frame_index" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def master(src: Long): Array[Byte] =
          Multimodal.syntheticAviBlobs(src, 6, 192, 192, 18, 22.0)
        def probe(src: Long, deg: Double, ow: Int, from: Int): Array[Byte] =
          Multimodal.aviCropResizeDib(Multimodal.aviRotateResizeDib(
            Multimodal.aviCropResizeDib(master(src), 24, 24, 168, 168,
              192, 192), deg), 0, 0, 192, 192, ow, 192, from)
        if (id == 20L) probe(0, 17.0, 137, 0)
        else if (id == 21L) probe(1, -23.0, 148, 0)
        else if (id == 22L) probe(2, 9.0, 132, 2)
        else master(id)
      })
      val corpus = s.range(0, 6)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(VideoAffineFrame())(corpus)
      val probes = s.range(20, 23).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(VideoAffineFrame())(probes, index)
        .orderBy(col("doc_id"))
    }),

    // VERIFIED crop x affine VIDEO pairs (m182 — the m179 verdict at
    // the frame sequence): the m177 code gate inherits the image
    // tier's measured fragility (gray-zone compounds score just under
    // minMatch 0.02 / minShared 16), so candidates nominate at the
    // LOW gate over pooled per-video code sets and each candidate is
    // RANSAC-verified from the pooled anchor correspondences — the
    // re-rip transform is ONE affine map across all frames, so the
    // pooled clouds align like the image member's; a trim only costs
    // the trimmed frames' anchors (verifyMinFrac 0.4). Probes: two
    // MEASURED gray-zone compounds the m177 gate drops (64% crop x
    // 17 deg x 1.3:1 at code 0.012/15 shared; 64% x 9 deg x 1.3:1 at
    // 0.018/34 — under one or both gate axes, spec-pinned in
    // Round14Spec) plus two m177-class compounds both tiers land, one
    // leading-TRIMMED 2 frames. Pinned golden.
    "m182_video_affine_frame_verified" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def master(src: Long): Array[Byte] =
          Multimodal.syntheticAviBlobs(src, 6, 192, 192, 18, 22.0)
        def probe(src: Long, m: Int, deg: Double, ow: Int,
            from: Int): Array[Byte] =
          Multimodal.aviCropResizeDib(Multimodal.aviRotateResizeDib(
            Multimodal.aviCropResizeDib(master(src), m, m, 192 - m,
              192 - m, 192, 192), deg), 0, 0, 192, 192, ow, 192, from)
        if (id == 20L) probe(0, 36, 17.0, 148, 0)       // gray: 0.012/15
        else if (id == 21L) probe(2, 36, 9.0, 148, 0)   // gray: 0.018/34
        else if (id == 22L) probe(0, 24, -23.0, 148, 0) // m177-class
        else if (id == 23L) probe(1, 24, 17.0, 137, 2)  // m177, trimmed
        else master(id)
      })
      val media = s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.videoAffineFramePairsVerified(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MIRROR x CROP x FULL-AFFINE video dedup (m187 — m181's chiral
    // readout at the frame sequence): a mirrored re-rip of a cropped,
    // tilted, squeezed video is invisible to the chirality-fixed m177
    // tier (Round14Spec pins its zero rows on this corpus), while the
    // pooled mirror readout — the same pure Long->Long repack, per
    // frame — lands every planted compound at orient 1 with no second
    // container walk. Probes: three m177-class mirrored compounds
    // (one leading-trimmed) over 6 masters, plus 2 fresh decoys.
    // Pinned golden.
    "m187_video_affine_frame_chiral" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def master(src: Long): Array[Byte] =
          Multimodal.syntheticAviBlobs(src, 6, 192, 192, 18, 22.0)
        def probe(src: Long, m: Int, deg: Double, ow: Int,
            from: Int): Array[Byte] =
          Multimodal.aviDihedralDib(
            Multimodal.aviCropResizeDib(Multimodal.aviRotateResizeDib(
              Multimodal.aviCropResizeDib(master(src), m, m, 192 - m,
                192 - m, 192, 192), deg), 0, 0, 192, 192, ow, 192,
              from), 4)
        if (id == 20L) probe(0, 24, -23.0, 148, 0)
        else if (id == 21L) probe(1, 24, 17.0, 137, 2) // trimmed
        else if (id == 22L) probe(2, 24, 9.0, 148, 0)
        else master(id)
      })
      val media = s.range(0, 6).union(s.range(20, 23))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.videoAffineFramePairsChiral(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"), col("orient"))
    }),

    // VERIFIED chiral video pairs (m188 — m183 at the frame
    // sequence): the m187 code gate inherits the identity gate's
    // gray-zone fragility verbatim, so the two m182 gray-zone
    // compounds MIRRORED (m187 drops them — Round14Spec pins the
    // contrast, plus m182's own zero rows: the identity verified
    // tier is chirality-fixed by design) nominate at the LOW gate
    // and verify under the det < 0 map their readout implies; two
    // m177-class mirrored compounds land both tiers. Pinned golden.
    "m188_video_affine_frame_chiral_verified" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def master(src: Long): Array[Byte] =
          Multimodal.syntheticAviBlobs(src, 6, 192, 192, 18, 22.0)
        def probe(src: Long, m: Int, deg: Double, ow: Int,
            from: Int): Array[Byte] =
          Multimodal.aviDihedralDib(
            Multimodal.aviCropResizeDib(Multimodal.aviRotateResizeDib(
              Multimodal.aviCropResizeDib(master(src), m, m, 192 - m,
                192 - m, 192, 192), deg), 0, 0, 192, 192, ow, 192,
              from), 4)
        if (id == 20L) probe(0, 36, 17.0, 148, 0)       // gray-zone
        else if (id == 21L) probe(2, 36, 9.0, 148, 0)   // gray-zone
        else if (id == 22L) probe(3, 24, -23.0, 148, 0) // m177-class
        else if (id == 23L) probe(1, 24, 17.0, 137, 2)  // trimmed
        else master(id)
      })
      val media = s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.videoAffineFramePairsChiralVerified(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"), col("orient"))
    }),

    // DE-SQUEEZE fan at the incremental seam (m189 — m184's index
    // member): masters register ONCE in the identity affine-frame
    // index; each ingest probe emits its identity codes plus the
    // hypothesis readouts, so a crop x rotation x EXTREME-squeeze
    // re-upload is flagged at ingest with no index rebuild. One
    // golden carries BOTH screens' verdicts: the PLAIN screen (tier
    // "code") misses all four extreme compounds, the FAN screen
    // (tier "fan") flags them; fresh probes stay kept under both.
    "m189_affine_frame_squeeze_fan_index" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, deg: Double, sq: Double,
            ax: Int): Array[Byte] = {
          val rot = Multimodal.pngRotateResize(Multimodal.pngCropResize(
            blobs(src), 32, 32, 224, 224, 256, 256), deg)
          if (ax == 0)
            Multimodal.pngCropResize(rot, 0, 0, 256, 256,
              math.round(256 / sq).toInt, 256)
          else
            Multimodal.pngCropResize(rot, 0, 0, 256, 256, 256,
              math.round(256 / sq).toInt)
        }
        if (id == 20L) probe(0, -23.0, 3.0, 0)
        else if (id == 21L) probe(0, 17.0, 3.5, 0)
        else if (id == 22L) probe(5, -23.0, 3.5, 1)
        else if (id == 23L) probe(3, -23.0, 4.0, 1)
        else blobs(id)
      })
      val corpus = s.range(0, 6)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageAffineFrame())(corpus)
      val probes = s.range(20, 24).union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val plain = Multimodal.screen(ImageAffineFrame())(probes, index)
        .select(lit("code").as("tier"), col("doc_id"), col("kept"),
          col("dup_src"))
      val fan = Multimodal.screen(ImageAffineFrameSqueezeFan())(probes, index)
        .select(lit("fan").as("tier"), col("doc_id"), col("kept"),
          col("dup_src"))
      plain.unionByName(fan).orderBy(col("tier"), col("doc_id"))
    }),

    // CHIRAL readout at the incremental seam (m190 — m181's index
    // member): masters register ONCE in the identity index; each
    // ingest probe emits its identity codes plus their mirror
    // repacks, so a MIRRORED crop x affine re-upload is flagged at
    // ingest with no index rebuild. One golden carries BOTH screens:
    // the identity screen (tier "code") keeps (misses) every mirrored
    // compound — chirality-fixed by design — while the chiral screen
    // (tier "chiral") flags them; fresh probes stay kept under both.
    "m190_affine_frame_chiral_index" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, deg: Double, outW: Int): Array[Byte] =
          Multimodal.pngDihedral(
            Multimodal.pngCropResize(Multimodal.pngRotateResize(
              Multimodal.pngCropResize(blobs(src), 32, 32, 224, 224,
                256, 256), deg), 0, 0, 256, 256, outW, 256), 4)
        if (id == 20L) probe(0, 17.0, 183)
        else if (id == 21L) probe(1, -23.0, 197)
        else if (id == 22L) probe(2, 9.0, 177)
        else if (id == 23L) probe(3, 33.0, 190)
        else blobs(id)
      })
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageAffineFrame())(corpus)
      val probes = s.range(20, 24).union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val plain = Multimodal.screen(ImageAffineFrame())(probes, index)
        .select(lit("code").as("tier"), col("doc_id"), col("kept"),
          col("dup_src"))
      val chiral = Multimodal.screen(ImageAffineFrameChiral())(probes, index)
        .select(lit("chiral").as("tier"), col("doc_id"), col("kept"),
          col("dup_src"))
      plain.unionByName(chiral).orderBy(col("tier"), col("doc_id"))
    }),

    // CROP x ROTATION x EXTREME-SQUEEZE video dedup (m191 — m184's
    // de-squeeze fan at the frame sequence): per-frame peaks detect
    // once, each hypothesis factor re-renders every frame's peak
    // geometry (no second decode) and the readout's codes pool per
    // video. 256px 24-blob frames (the measured m184 envelope — at
    // the 192px 18-blob fixture class, 3:1 squeezes merge blobs at
    // detection and NOTHING lands, fan or base). Probes: 3.0-4.0:1 x
    // {17, -23, 9} deg x both axes over a central-75% crop, one
    // leading-trimmed; the fan lands five, the base tier only the
    // 3.5:1 vertical (the boundary class), and the 4.0:1 x 9 deg
    // vertical stays out — the same measured cliff as the image
    // member. Pinned golden.
    "m191_video_affine_frame_squeeze_fan" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def master(src: Long): Array[Byte] =
          Multimodal.syntheticAviBlobs(src, 6, 256, 256, 24, 22.0)
        def probe(src: Long, deg: Double, sq: Double, ax: Int,
            from: Int): Array[Byte] = {
          val rot = Multimodal.aviRotateResizeDib(
            Multimodal.aviCropResizeDib(master(src), 32, 32, 224,
              224, 256, 256), deg)
          if (ax == 0) Multimodal.aviCropResizeDib(rot, 0, 0, 256,
            256, math.round(256 / sq).toInt, 256, from)
          else Multimodal.aviCropResizeDib(rot, 0, 0, 256, 256, 256,
            math.round(256 / sq).toInt, from)
        }
        if (id == 20L) probe(0, -23.0, 3.0, 0, 0)
        else if (id == 21L) probe(1, 17.0, 3.5, 0, 0)
        else if (id == 22L) probe(2, -23.0, 3.5, 1, 0)
        else if (id == 23L) probe(3, 17.0, 3.0, 1, 2) // trimmed
        else if (id == 24L) probe(4, -23.0, 4.0, 0, 0)
        else if (id == 25L) probe(5, 9.0, 4.0, 1, 0)  // measured miss
        else master(id)
      })
      val media = s.range(0, 6).union(s.range(20, 26))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(VideoAffineFrameSqueezeFan())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"), col("orient"))
    }),

    // Persisted CANONICAL video index + ingest screen (m172 — the
    // m167 tier's incremental member, CanonFpVersion via the shared
    // kernel): 6 blob-video masters fingerprint once, then the m167
    // anamorphic probe batch plus 2 fresh videos screens with no
    // corpus re-decode. Pinned golden.
    "m172_video_canonical_index" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(0, 6), 0, 0, 96, 96, 60, 96)
        else if (id == 21L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(1, 6), 0, 0, 96, 96, 96, 60)
        else if (id == 22L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(2, 6), 0, 0, 96, 96, 56, 90, 2)
        else Multimodal.syntheticAviBlobs(id, 6))
      val corpus = s.range(0, 6)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(VideoScaleCanonical())(corpus)
      val probes = s.range(20, 23).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(VideoScaleCanonical())(probes, index, minMatch = 0.3)
        .orderBy(col("doc_id"))
    }),

    // Persisted AFFINE video index + ingest screen (m173 — the m171
    // tier's incremental member, AffineFpVersion via the shared
    // kernel): 6 masters fingerprint once on per-frame whitened
    // renderings, then the m171 tilted-anamorphic probe batch plus 2
    // fresh videos screens with no corpus re-decode. Pinned golden.
    "m173_video_affine_index" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def probe(src: Long, deg: Double, ow: Int, oh: Int,
            from: Int): Array[Byte] =
          Multimodal.aviCropResizeDib(Multimodal.aviRotateResizeDib(
            Multimodal.syntheticAviBlobs(src, 6), deg), 0, 0, 96, 96,
            ow, oh, from)
        if (id == 20L) probe(0, 17.0, 60, 96, 0)
        else if (id == 21L) probe(1, -8.0, 96, 60, 0)
        else if (id == 22L) probe(2, 20.0, 64, 96, 2)
        else Multimodal.syntheticAviBlobs(id, 6)
      })
      val corpus = s.range(0, 6)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(VideoAffine())(corpus)
      val probes = s.range(20, 23).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(VideoAffine())(probes, index, minMatch = 0.25)
        .orderBy(col("doc_id"))
    }),

    // UNKNOWN-anamorphic VIDEO dedup (m167 — the m165 canonical tier
    // lifted to the frame sequence): 1.6:1 horizontal and vertical
    // anamorphic rips plus a 1.7:1 + 2-frame-trim compound, factors
    // deliberately outside the m156 fan's default display-conversion
    // set (fan-best measures 0.05-0.09 vs canonical 0.52-0.87; false
    // ceiling 0.018). Per-frame moment-isotropic canonicals pooled
    // distinct, one container walk. Pinned golden.
    "m167_video_canonical_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(0, 6), 0, 0, 96, 96, 60, 96)
        else if (id == 21L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(1, 6), 0, 0, 96, 96, 96, 60)
        else if (id == 22L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(2, 6), 0, 0, 96, 96, 56, 90, 2)
        else Multimodal.syntheticAviBlobs(id, 6))
      val media = s.range(0, 6).union(s.range(20, 23))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(VideoScaleCanonical())(media, minMatch = 0.3, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // STREAMING unknown-anamorphic video dedup (st118 — the m167 tier
    // in the streaming matrix): micro-batch 1 delivers 6 blob-video
    // masters, micro-batch 2 their anamorphic re-deliveries at
    // factors outside any default fan. Consumer scores at the
    // canonical 0.3 gate. Pinned golden.
    "st118_stream_video_canonical_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticAviBlobs(id, 6)
        else {
          val m = id - 1000000L
          (m % 3) match {
            case 0 => Multimodal.aviCropResizeDib(
              Multimodal.syntheticAviBlobs(m, 6), 0, 0, 96, 96, 60, 96)
            case 1 => Multimodal.aviCropResizeDib(
              Multimodal.syntheticAviBlobs(m, 6), 0, 0, 96, 96, 96, 60)
            case _ => Multimodal.aviCropResizeDib(
              Multimodal.syntheticAviBlobs(m, 6), 0, 0, 96, 96, 56, 90, 2)
          }
        })
      val staged = stageBatches("graft-stream-vcanon",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoScaleCanonical())(
        stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st118_out" -> hits), Share(0.3))
    }),

    // ANAMORPHIC video dedup (m156): the aspect-hypothesis fan pooled
    // per sampled frame — a 4:3 master re-ripped at 16:9 (or the
    // reverse), one probe also trimmed two frames; the plain AND
    // rotation-invariant video constellation tiers are both
    // structurally blind (Round11oSpec pins both at zero pairs).
    // Pinned golden.
    "m156_video_aspect_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.aviAspectDib(
          Multimodal.syntheticAviBlobs(0, 6), 0.75)
        else if (id == 21L) Multimodal.aviAspectDib(
          Multimodal.syntheticAviBlobs(1, 6), 4.0 / 3.0)
        else if (id == 22L) Multimodal.aviAspectDib(
          Multimodal.syntheticAviBlobs(2, 6), 0.75, 2)
        else if (id == 23L) Multimodal.aviAspectDib(
          Multimodal.syntheticAviBlobs(3, 6), 4.0 / 3.0)
        else Multimodal.syntheticAviBlobs(id, 6))
      val media = s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(VideoScaleAspect())(media, minMatch = 0.3, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Video aspect fan against the PLAIN video constellation index
    // (m157): the m148 artifact unchanged — anamorphic re-rips of
    // corpus masters are caught where the plain screen provably keeps
    // them (Round11oSpec). Pinned golden.
    "m157_video_aspect_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.aviAspectDib(
          Multimodal.syntheticAviBlobs(0, 6), 0.75)
        else if (id == 21L) Multimodal.aviAspectDib(
          Multimodal.syntheticAviBlobs(1, 6), 4.0 / 3.0)
        else Multimodal.syntheticAviBlobs(id, 6))
      val corpus = s.range(0, 6)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(VideoScale())(corpus)
      val probes = s.range(20, 22).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(VideoScaleAspect())(probes, index, minMatch = 0.3)
        .orderBy(col("doc_id"))
    }),

    // STREAMING anamorphic video dedup (the m156 tier in the
    // streaming matrix): identity readouts register, the hypothesis
    // fan probes; each squeezed re-delivery lands at the undoing
    // factor. Consumer scores the best hypothesis over the smaller
    // identity count at the 0.3 gate. Pinned golden.
    "st113_stream_video_aspect_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticAviBlobs(id, 6)
        else {
          val m = id - 1000000L
          if (m % 2 == 0) Multimodal.aviAspectDib(
            Multimodal.syntheticAviBlobs(m, 6), 0.75)
          else Multimodal.aviAspectDib(
            Multimodal.syntheticAviBlobs(m, 6), 4.0 / 3.0)
        })
      val staged = stageBatches("graft-stream-vidaspect",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoScaleAspect())(
        stream, maxBucket = 64)
      val out = drain(s, "append")("st113_out" -> hits)
      val nl = out.filter(col("orient") === 0)
        .groupBy(col("doc_id")).agg(countDistinct(col("lm")).as("nl"))
      val nlSrc = out.filter(col("orient") === 0)
        .select(col("doc_id").as("src_id"), col("lm"))
        .groupBy(col("src_id")).agg(countDistinct(col("lm")).as("nl_src"))
      val dup = out
        .select(col("doc_id").as("d"), col("orient"),
          explode(col("hits")).as("src"))
        .groupBy(col("d"), col("orient"), col("src"))
        .agg(count(lit(1)).as("c"))
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .join(nlSrc, col("src") === col("src_id"))
        .filter(col("c").cast("double") / least(col("nl"), col("nl_src"))
          >= 0.3)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nl.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // Crop+RESIZE VIDEO dedup — pooled per-frame constellation codes
    // (m147): probes are cropped at arbitrary offsets AND uniformly
    // rescaled (up 1.2x/1.4x, down 0.89x), one also TRIMMED two
    // leading frames — the 1080p->720p repost shape, which the
    // exact-pixel video peak tier (m138) misses structurally
    // (Round11kSpec pins it at zero pairs on this corpus; the pooled
    // distinct codes are order-free, so the trim costs only the
    // trimmed frames' unique codes). Blob-frame fixtures — the
    // modular aviPixel textures alias under resampling. Pinned
    // golden.
    "m147_video_scale_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(0, 6), 12, 8, 92, 88, 96, 96)
        else if (id == 21L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(1, 6), 8, 8, 88, 88, 112, 112)
        else if (id == 22L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(2, 6), 16, 12, 88, 84, 64, 64)
        else if (id == 23L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(3, 6), 12, 8, 92, 88, 96, 96, 2)
        else Multimodal.syntheticAviBlobs(id, 6))
      val media = s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.pairs(VideoScale())(media, minMatch = 0.4, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Persisted VIDEO constellation index + batch ingest screen
    // (m148) — the m147 tier's index member (same ScaleFpVersion as
    // the image index via the shared code kernel, the m139
    // precedent): 6 blob-frame masters fingerprint once, then an
    // ingest batch of 3 crop+RESIZE re-uploads plus 2 fresh videos
    // screens with no corpus re-decode. Pinned golden.
    "m148_video_scale_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id == 20L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(0, 6), 12, 8, 92, 88, 96, 96)
        else if (id == 21L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(1, 6), 8, 8, 88, 88, 112, 112)
        else if (id == 22L) Multimodal.aviCropResizeDib(
          Multimodal.syntheticAviBlobs(2, 6), 16, 12, 88, 84, 64, 64)
        else Multimodal.syntheticAviBlobs(id, 6))
      val corpus = s.range(0, 6)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(VideoScale())(corpus)
      val probes = s.range(20, 23).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(VideoScale())(probes, index, minMatch = 0.4)
        .orderBy(col("doc_id"))
    }),

    // STREAMING crop+RESIZE video dedup (the m147 tier in the
    // streaming matrix): micro-batch 1 delivers 6 blob-frame
    // masters — pooled constellation codes enter bucket state —
    // micro-batch 2 their cropped-and-rescaled re-deliveries (one
    // trimmed), which the exact-pixel video peak stream (st102) is
    // structurally blind to. Consumer scores shared distinct
    // landmarks over the smaller pooled set >= 0.4. Pinned golden.
    "st108_stream_video_scale_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticAviBlobs(id, 6)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.aviCropResizeDib(
              Multimodal.syntheticAviBlobs(m, 6), 12, 8, 92, 88, 96, 96)
            case 1 => Multimodal.aviCropResizeDib(
              Multimodal.syntheticAviBlobs(m, 6), 8, 8, 88, 88, 112, 112)
            case 2 => Multimodal.aviCropResizeDib(
              Multimodal.syntheticAviBlobs(m, 6), 16, 12, 88, 84, 64, 64)
            case _ => Multimodal.aviCropResizeDib(
              Multimodal.syntheticAviBlobs(m, 6), 12, 8, 92, 88, 96, 96, 2)
          }
        })
      val staged = stageBatches("graft-stream-vidscale",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoScale())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st108_out" -> hits), Share(0.4))
    }),

    // STREAMING rotated + arbitrary-crop compound image dedup (the
    // m140 tier in the streaming matrix): micro-batch 1 delivers 6
    // masters — orient-0 landmarks enter bucket state — micro-batch 2
    // their crops rotated/mirrored after cropping; each re-delivery's
    // 8 patch readouts probe the buckets and the element undoing its
    // transform lands every interior peak. Consumer scores the BEST
    // orientation's hit count over the probe's orient-0 landmark
    // count. Pinned golden.
    "st104_stream_peak_dihedral_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPng(id, 64, 64)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.pngDihedral(
              Multimodal.syntheticPngCrop(m, 19, 13, 51, 45), 1)
            case 1 => Multimodal.pngDihedral(
              Multimodal.syntheticPngCrop(m, 9, 23, 41, 55), 2)
            case 2 => Multimodal.pngDihedral(
              Multimodal.syntheticPngCrop(m, 23, 5, 55, 37), 4)
            case _ => Multimodal.pngDihedral(
              Multimodal.syntheticPngCrop(m, 13, 17, 45, 49), 7)
          }
        })
      val staged = stageBatches("graft-stream-peakdih",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(ImagePeakDihedral())(
        stream, maxBucket = 64)
      val out = drain(s, "append")("st104_out" -> hits)
      val nl = out.filter(col("orient") === 0)
        .groupBy(col("doc_id")).agg(countDistinct(col("lm")).as("nl"))
      val nlSrc = out.filter(col("orient") === 0)
        .select(col("doc_id").as("src_id"), col("lm"))
        .groupBy(col("src_id")).agg(countDistinct(col("lm")).as("nl_src"))
      val dup = out
        .select(col("doc_id").as("d"), col("orient"),
          explode(col("hits")).as("src"))
        .groupBy(col("d"), col("orient"), col("src"))
        .agg(count(lit(1)).as("c"))
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .join(nlSrc, col("src") === col("src_id"))
        .filter(col("c").cast("double") / least(col("nl"), col("nl_src"))
          >= 0.6)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nl.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // STREAM-STATIC peak index screen (the st85 shape at the peak
    // seam): a standing corpus' peak index BROADCASTS — no state
    // store at all — and every micro-batch of arrivals equi-joins its
    // own peak landmarks against it; arbitrary-offset crop
    // re-uploads of corpus masters dup mid-stream with no corpus
    // re-decode and O(index) executor memory instead of O(stream)
    // state. Pinned golden.
    "st103_stream_peak_index_screen" -> ((s0, dir) => { val s = streamSession(s0)
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPng(id, 64, 64)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.syntheticPngCrop(m, 19, 13, 51, 45)
            case 1 => Multimodal.syntheticPngCrop(m, 9, 23, 41, 55)
            case 2 => Multimodal.syntheticPngCrop(m, 23, 5, 55, 37)
            case _ => Multimodal.syntheticPngCrop(m, 13, 17, 45, 49)
          }
        })
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImagePeak())(corpus)
        .select(col("lm"), col("doc_id").as("src"), col("nl").as("nl_src"))
      val staged = stageBatches("graft-stream-peakidx",
        payloads(s.range(1000000L, 1000004L), img),
        payloads(s.range(1000004L, 1000006L)
          .union(s.range(140L, 142L)), img))
      val stream = mediaStream(s, staged)
      val lms = Multimodal.ImagePeak().landmarks(stream)
      val joined = lms.join(broadcast(index), Seq("lm"), "left")
      val out = drain(s, "append")("st103_out" -> joined)
      val nl = out.groupBy(col("doc_id"))
        .agg(countDistinct(col("lm")).as("nl"))
      val dup = out.filter(col("src").isNotNull)
        .select(col("doc_id").as("d"), col("src"), col("nl_src"))
        .groupBy(col("d"), col("src"), col("nl_src"))
        .agg(count(lit(1)).as("c"))
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .filter(col("c").cast("double") / least(col("nl"), col("nl_src"))
          >= 0.6)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nl.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // STREAM-STATIC constellation index screen (the st103 shape at
    // the scale seam): a standing corpus' constellation index
    // BROADCASTS — no state store at all — and every micro-batch of
    // arrivals equi-joins its own quad codes against it;
    // crop+RESIZE re-uploads of corpus masters dup mid-stream with no
    // corpus re-decode and O(index) executor memory instead of
    // O(stream) state. Pinned golden.
    "st109_stream_scale_index_screen" -> ((s0, dir) => { val s = streamSession(s0)
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPngBlobs(id)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 20, 12, 116, 108, 128, 128)
            case 1 => Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 8, 16, 104, 112, 112, 112)
            case 2 => Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 16, 16, 112, 112, 80, 80)
            case _ => Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 24, 8, 120, 104, 144, 144)
          }
        })
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageScale())(corpus)
        .select(col("lm"), col("doc_id").as("src"), col("nl").as("nl_src"))
      val staged = stageBatches("graft-stream-scaleidx",
        payloads(s.range(1000000L, 1000004L), img),
        payloads(s.range(1000004L, 1000006L)
          .union(s.range(140L, 142L)), img))
      val stream = mediaStream(s, staged)
      val lms = Multimodal.ImageScale().landmarks(stream)
      val joined = lms.join(broadcast(index), Seq("lm"), "left")
      val out = drain(s, "append")("st109_out" -> joined)
      val nl = out.groupBy(col("doc_id"))
        .agg(countDistinct(col("lm")).as("nl"))
      val dup = out.filter(col("src").isNotNull)
        .select(col("doc_id").as("d"), col("src"), col("nl_src"))
        .groupBy(col("d"), col("src"), col("nl_src"))
        .agg(count(lit(1)).as("c"))
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .filter(col("c").cast("double") / least(col("nl"), col("nl_src"))
          >= 0.4)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nl.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // STRUCTURELESS-image contrast gate (m161 — pins the round-11
    // declared scope line with a fixture instead of asserting it):
    // independent random textures ([[syntheticPngTexture]] — no
    // blobs, no shared lattice) re-encoded (JPEG q0.95) vs resampled
    // (64->80, a non-integer grid mapping). Measured: the pHash tier
    // owns the unresized re-encode (hamming 0) AND integer-ratio
    // upsamples (64->96 = exact 3x box at the 32-grid, hamming <= 2),
    // but non-integer resampling aliases the texture wholesale
    // (hamming 4-8 > maxDist) — those probes stay KEPT; the
    // constellation tier's noise maxima are rewritten by the same
    // resampling, so master<->resample pairs score 0.01-0.05, far
    // under the 0.3 gate — the 'scale' tier rows are pinned EMPTY.
    // Pinned golden.
    "m161_texture_scope_gate" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPngTexture(id, 64, 64)
        else if (id < 40) Multimodal.jpegReencode(
          Multimodal.syntheticPngTexture(id - 20, 64, 64), 0.95f)
        else Multimodal.pngCropResize(
          Multimodal.syntheticPngTexture(id - 40, 64, 64),
          0, 0, 64, 64, 80, 80))
      val masters = s.range(0, 4)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val probes = s.range(20, 24).union(s.range(40, 44))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val phash = Multimodal.screen(PHash)(probes,
        Multimodal.pHashChunkIndex(masters))
        .select(lit("phash").as("tier"), col("doc_id"), col("kept"),
          col("dup_src"))
      val all = masters.unionByName(probes.filter(col("doc_id") >= 40))
      val scale = Multimodal.pairs(ImageScale())(all, minMatch = 0.3,
        maxDf = 64)
        .select(lit("scale").as("tier"), col("doc_a").as("doc_id"),
          lit(false).as("kept"), col("doc_b").as("dup_src"))
      phash.unionByName(scale).orderBy(col("tier"), col("doc_id"))
    }),

    // STREAM-STATIC winnow index screen (st114 — the st103 shape at
    // the text seam, closing the round-11 verdict's matrix gap: the
    // winnow family had batch index legs (t80) and stream-stream
    // dedup (st90) but no broadcast screen): a standing corpus'
    // winnowIndex BROADCASTS — no state store at all — and every
    // micro-batch of arrivals equi-joins its own fingerprints
    // against it; a probe embedding a corpus span behind junk
    // prefix/suffix dups mid-stream (the winnowing guarantee: any
    // shared >= w+k-1-token run surfaces), reversed-text arrivals
    // stay kept. O(index) executor memory instead of O(stream)
    // state. Pinned golden.
    "st114_stream_winnow_index_screen" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      val corpus = docs.filter($"doc_id" < 40)
        .select($"doc_id", $"text")
      val index = graft.operators.TextDedup.winnowIndex(
        corpus, "doc_id", "text")
        .select(col("fp"), col("doc_id").as("src"))
      val staged = stageBatches("graft-stream-winnowidx",
        docs.filter($"doc_id" < 5)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            concat(lit("junk prefix tokens before the borrowed span "),
              $"text", lit(" junk suffix after")).as("text"),
            $"lang", $"source", $"n_chars"),
        docs.filter($"doc_id" >= 20 && $"doc_id" < 23)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            concat(lit("another junk lead "), $"text").as("text"),
            $"lang", $"source", $"n_chars")
          .unionAll(docs.filter($"doc_id" >= 40 && $"doc_id" < 45)
            .select(($"doc_id" + 2000000L).as("doc_id"),
              reverse($"text").as("text"), $"lang", $"source",
              $"n_chars")))
      val stream = s.readStream.schema(docsSchema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        .repartition(col("doc_id"))
      val fps = graft.operators.TextDedup.winnowFingerprints(
        stream, "doc_id", "text").toDF()
      val joined = fps.select(col("doc_id"), col("fp"))
        .join(broadcast(index), Seq("fp"), "left")
      val out = drain(s, "append")("st114_out" -> joined)
      val dup = out.filter(col("src").isNotNull)
        .select(col("doc_id").as("d"), col("src"), col("fp"))
        .groupBy(col("d"), col("src"))
        .agg(countDistinct(col("fp")).as("c"))
        .filter(col("c") >= 3)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      out.select(col("doc_id")).distinct()
        .join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // STREAM-STATIC CDC chunk index screen (st115 — st114's
    // byte-exact shift-tolerant sibling, the cdcChunkIndex in
    // broadcast position): content-defined boundaries re-synchronize
    // after any prefix edit, so a corpus span embedded at an
    // arbitrary offset inside an arrival still shares >= minShared
    // distinct chunk hashes with its source through the broadcast
    // index. Pinned golden.
    "st115_stream_cdc_index_screen" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      val corpus = docs.filter($"doc_id" < 40)
        .select($"doc_id", $"text")
      val index = graft.operators.TextDedup.cdcChunkIndex(
        corpus, "doc_id", "text", nibbles = 2)
        .select(col("ch"), col("doc_id").as("src"))
      val staged = stageBatches("graft-stream-cdcidx",
        docs.filter($"doc_id" < 5)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            concat(lit("junk prefix tokens before the borrowed span "),
              $"text", lit(" junk suffix after")).as("text"),
            $"lang", $"source", $"n_chars"),
        docs.filter($"doc_id" >= 20 && $"doc_id" < 23)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            concat(lit("another junk lead "), $"text").as("text"),
            $"lang", $"source", $"n_chars")
          .unionAll(docs.filter($"doc_id" >= 40 && $"doc_id" < 45)
            .select(($"doc_id" + 2000000L).as("doc_id"),
              reverse($"text").as("text"), $"lang", $"source",
              $"n_chars")))
      val stream = s.readStream.schema(docsSchema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        .repartition(col("doc_id"))
      val chunks = graft.operators.TextDedup.cdcChunks(
        stream, "doc_id", "text", nibbles = 2).toDF()
      val joined = chunks.select(col("doc_id"), col("ch"))
        .join(broadcast(index), Seq("ch"), "left")
      val out = drain(s, "append")("st115_out" -> joined)
      val dup = out.filter(col("src").isNotNull)
        .select(col("doc_id").as("d"), col("src"), col("ch"))
        .groupBy(col("d"), col("src"))
        .agg(countDistinct(col("ch")).as("c"))
        .filter(col("c") >= 2)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      out.select(col("doc_id")).distinct()
        .join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // Incremental screen vs the persisted VIDEO peak index — the m138
    // tier's index member (m137's contract at the video seam, same
    // PeakFpVersion via the shared kernel): 4 masters (ids spaced per
    // the m138 linear-generator note) pooled-peak-indexed once, then
    // an ingest batch of 4 arbitrary-offset cropped + trimmed
    // re-uploads plus 2 fresh videos screens against it with no
    // corpus re-decode. Pinned golden.
    "m139_video_peak_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val avi = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, 24, w = 48, h = 48)
        else if (id == 20L) Multimodal.syntheticAvi(0, 20, w = 28, h = 24,
          frameOffset = 2, srcX0 = 7, srcY0 = 11)
        else if (id == 21L) Multimodal.syntheticAvi(1, 20, w = 28, h = 24,
          frameOffset = 2, srcX0 = 13, srcY0 = 5)
        else if (id == 22L) Multimodal.syntheticAvi(10, 20, w = 28, h = 24,
          frameOffset = 2, srcX0 = 3, srcY0 = 19)
        else if (id == 23L) Multimodal.syntheticAvi(11, 20, w = 28, h = 24,
          frameOffset = 2, srcX0 = 17, srcY0 = 9)
        else Multimodal.syntheticAvi(id, 24, w = 48, h = 48))
      val corpus = Seq(0L, 1L, 10L, 11L).toDF("id")
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      val index = Multimodal.index(VideoPeak(every = 1))(corpus)
      val probes = s.range(20, 24).toDF("id")
        .union(Seq(200L, 201L).toDF("id"))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.screen(VideoPeak(every = 1))(probes, index)
        .orderBy(col("doc_id"))
    }),

    // Incremental screen vs the persisted PEAK-PATCH landmark index —
    // the m136 tier's index member (PeakFpVersion-stamped, the m125
    // contract shape): 8 masters decode once into their content-
    // anchored peak sets, then an ingest batch of 4 ARBITRARY-OFFSET
    // crops plus 2 fresh images screens against it with no corpus
    // re-decode — the class the canonical-window index (m129) pins
    // as a non-match. Pinned golden.
    "m137_peak_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id, 64, 64)
        else if (id == 20L) Multimodal.syntheticPngCrop(0, 19, 13, 51, 45)
        else if (id == 21L) Multimodal.syntheticPngCrop(1, 9, 23, 41, 55)
        else if (id == 22L) Multimodal.syntheticPngCrop(2, 23, 5, 55, 37)
        else if (id == 23L) Multimodal.syntheticPngCrop(3, 13, 17, 45, 49)
        else Multimodal.syntheticPng(id, 64, 64))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImagePeak())(corpus)
      val probes = s.range(20, 24).union(s.range(130, 132))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(ImagePeak())(probes, index)
        .orderBy(col("doc_id"))
    }),

    // STREAMING arbitrary-offset crop image dedup (the m136 tier in
    // the streaming matrix): micro-batch 1 delivers 6 masters — each
    // registers its content-anchored peak-patch landmarks into bucket
    // state — micro-batch 2 their arbitrary-offset crops, which the
    // canonical-window streaming tier (st96) is structurally blind
    // to; each crop's surviving interior peaks land bit-exactly in
    // its master's buckets at ~1.0 over the crop's set. Pinned
    // golden.
    "st101_stream_peak_crop_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPng(id, 64, 64)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.syntheticPngCrop(m, 19, 13, 51, 45)
            case 1 => Multimodal.syntheticPngCrop(m, 9, 23, 41, 55)
            case 2 => Multimodal.syntheticPngCrop(m, 23, 5, 55, 37)
            case _ => Multimodal.syntheticPngCrop(m, 13, 17, 45, 49)
          }
        })
      val staged = stageBatches("graft-stream-peak",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(ImagePeak())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st101_out" -> hits), Share(0.6))
    }),

    // The thirds ladder as an INDEX member (extended=true on the m129
    // contract): the same 6 masters indexed both ways; phase 1
    // screens the 4 rule-of-thirds crops (+2 fresh decoys) against
    // the BASE 7-window index — every crop KEPT (the structural miss
    // Round11fSpec pins for the pairs op, here through the index
    // path) — phase 2 against the extended index, where each crop
    // lands bit-exactly on its registered anchor window. The probe
    // side is identical in both phases (whole-image hash, 4 chunk
    // rows); only the index fans out 28 -> 64 rows/doc. Pinned
    // golden.
    "m133_thirds_crop_index" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id, 48, 48)
        else if (id == 20L) Multimodal.syntheticPngCrop(0, 8, 0, 40, 32, 48, 48)
        else if (id == 21L) Multimodal.syntheticPngCrop(1, 16, 16, 48, 48, 48, 48)
        else if (id == 22L) Multimodal.syntheticPngCrop(2, 0, 8, 32, 40, 48, 48)
        else if (id == 23L) Multimodal.syntheticPngCrop(3, 8, 8, 40, 40, 48, 48)
        else Multimodal.syntheticPng(id, 48, 48))
      val corpus = s.range(0, 6)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val base = Multimodal.pHashCropWindowIndex(corpus)
      val ext = Multimodal.pHashCropWindowIndex(corpus,
        f = PHashCrop(extended = true))
      val probes = s.range(20, 24).union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val v1 = Multimodal.screen(PHashCrop())(probes, base, maxDf = 64)
      val v2 = Multimodal.screen(PHashCrop())(probes, ext, maxDf = 64)
      v1.select(lit(1L).as("phase"), col("doc_id"), col("kept"),
          col("dup_src"))
        .unionAll(v2.select(lit(2L).as("phase"), col("doc_id"),
          col("kept"), col("dup_src")))
        .orderBy(col("phase"), col("doc_id"))
    }),

    // CROPPED-video dedup — per-frame crop-window landmark CHANNELS
    // (the m128 windows lifted to video): a cropped re-upload changes
    // EVERY frame hash, so all whole-frame tiers (aligned, landmark,
    // tolerant, dihedral, skip) miss wholesale (Round11fSpec pins
    // zero cross-pairs); but each frame's 7 window hashes from one
    // decode form per-window landmark channels, and a center/quadrant
    // crop's full-frame channel is a subsequence of its master's
    // window-k channel — bit-exact (DIB pixels are the window), so
    // the 2-frame trim rides along and all 4 land at match_frac 1.0.
    // Scoring is per-CHANNEL (shared distinct landmarks over the
    // smaller channel count — whole-doc counts would dilute 7x);
    // candidates need the full-frame channel on one side. Pinned
    // golden (DIB + StrictMath DCT).
    "m130_video_crop_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, 24, w = 32, h = 32)
        else if (id == 20L) Multimodal.syntheticAvi(0, 20, w = 16, h = 16,
          frameOffset = 2, srcX0 = 8, srcY0 = 8)
        else if (id == 21L) Multimodal.syntheticAvi(1, 20, w = 16, h = 16,
          frameOffset = 2, srcX0 = 0, srcY0 = 0)
        else if (id == 22L) Multimodal.syntheticAvi(2, 20, w = 24, h = 24,
          frameOffset = 2, srcX0 = 4, srcY0 = 4)
        else if (id == 23L) Multimodal.syntheticAvi(3, 20, w = 16, h = 16,
          frameOffset = 2, srcX0 = 16, srcY0 = 16)
        else Multimodal.syntheticAvi(id, 24, w = 32, h = 32))
      val media = s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.videoLandmarkPairsCrop(media, maxDf = 64,
        f = VideoCrop(every = 1))
        .orderBy(col("doc_a"), col("doc_b"), col("win_a"), col("win_b"))
    }),

    // Incremental screen vs the persisted CROP-WINDOW video landmark
    // index — the m130 tier's index member: 6 masters decode once
    // into all 7 per-frame window channels (VideoCropFpVersion-
    // stamped, per-CHANNEL landmark counts in-row), then an ingest
    // batch of 4 cropped+trimmed re-uploads plus 2 fresh videos
    // screens using full-frame channels only — no corpus re-decode,
    // where every whole-frame video index misses. Pinned golden.
    "m131_video_crop_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, 24, w = 32, h = 32)
        else if (id == 20L) Multimodal.syntheticAvi(0, 20, w = 16, h = 16,
          frameOffset = 2, srcX0 = 8, srcY0 = 8)
        else if (id == 21L) Multimodal.syntheticAvi(1, 20, w = 16, h = 16,
          frameOffset = 2, srcX0 = 0, srcY0 = 0)
        else if (id == 22L) Multimodal.syntheticAvi(2, 20, w = 24, h = 24,
          frameOffset = 2, srcX0 = 4, srcY0 = 4)
        else if (id == 23L) Multimodal.syntheticAvi(3, 20, w = 16, h = 16,
          frameOffset = 2, srcX0 = 16, srcY0 = 16)
        else Multimodal.syntheticAvi(id, 24, w = 32, h = 32))
      val corpus = s.range(0, 6)
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      val index = Multimodal.videoCropLandmarkIndex(corpus,
        f = VideoCrop(every = 1))
      val probes = s.range(20, 24).union(s.range(130, 132))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.screen(VideoCrop(every = 1))(probes, index)
        .orderBy(col("doc_id"))
    }),

    // STREAMING cropped-video dedup (the m130 tier in the streaming
    // matrix): micro-batch 1 delivers 6 masters — each registers all
    // 7 per-frame window channels into landmark-bucket state —
    // micro-batch 2 their cropped+trimmed re-uploads, whose
    // full-frame channels land bit-exactly in the masters' window
    // buckets (every whole-frame streaming video tier sees nothing:
    // a crop changes every frame hash). Consumer scores win=0 rows:
    // shared distinct landmarks over the probe's full-frame channel
    // count >= 0.6. Pinned golden.
    "st97_stream_video_crop_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val avi = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticAvi(id, 24, w = 32, h = 32)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.syntheticAvi(m, 20, w = 16, h = 16,
              frameOffset = 2, srcX0 = 8, srcY0 = 8)
            case 1 => Multimodal.syntheticAvi(m, 20, w = 16, h = 16,
              frameOffset = 2, srcX0 = 0, srcY0 = 0)
            case 2 => Multimodal.syntheticAvi(m, 20, w = 24, h = 24,
              frameOffset = 2, srcX0 = 4, srcY0 = 4)
            case _ => Multimodal.syntheticAvi(m, 20, w = 16, h = 16,
              frameOffset = 2, srcX0 = 16, srcY0 = 16)
          }
        })
      val staged = stageBatches("graft-stream-vcrop",
        payloads(s.range(0, 6), avi),
        payloads(s.range(1000000L, 1000004L), avi))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoCrop(every = 1))(
        stream, maxBucket = 64)
      val out = drain(s, "append")("st97_out" -> hits)
      val win0 = out.filter(col("win") === 0)
      val nl = win0.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
      val dup = win0
        .select(col("doc_id").as("d"), explode(col("hits")).as("src"))
        .groupBy(col("d"), col("src")).agg(count(lit(1)).as("c"))
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .filter(col("c").cast("double") / col("nl") >= 0.6)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nl.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // The thirds ladder for VIDEO (extended=true on the m131
    // contract, the m133 two-phase shape): 6 48x48 masters indexed
    // both ways; phase 1 screens 4 rule-of-thirds-cropped + trimmed
    // re-uploads (+2 fresh decoys) against the BASE 7-channel index —
    // every crop KEPT (off-center 2/3-size windows are in no base
    // channel) — phase 2 against the extended index (16 channels per
    // frame), where each crop's full-frame channel is a subsequence
    // of its master's thirds channel, bit-exact DIB pixels. Probe
    // cost identical in both phases (full-frame channel only).
    // Pinned golden.
    "m134_video_thirds_index" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, 24, w = 48, h = 48)
        else if (id == 20L) Multimodal.syntheticAvi(0, 20, w = 32, h = 32,
          frameOffset = 2, srcX0 = 8, srcY0 = 0)
        else if (id == 21L) Multimodal.syntheticAvi(1, 20, w = 32, h = 32,
          frameOffset = 2, srcX0 = 16, srcY0 = 16)
        else if (id == 22L) Multimodal.syntheticAvi(2, 20, w = 32, h = 32,
          frameOffset = 2, srcX0 = 0, srcY0 = 8)
        else if (id == 23L) Multimodal.syntheticAvi(3, 20, w = 32, h = 32,
          frameOffset = 2, srcX0 = 8, srcY0 = 8)
        else Multimodal.syntheticAvi(id, 24, w = 48, h = 48))
      val corpus = s.range(0, 6)
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      val base = Multimodal.videoCropLandmarkIndex(corpus,
        f = VideoCrop(every = 1))
      val ext = Multimodal.videoCropLandmarkIndex(corpus,
        f = VideoCrop(every = 1, extended = true))
      val probes = s.range(20, 24).union(s.range(130, 132))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      val v1 = Multimodal.screen(VideoCrop(every = 1))(probes, base)
      val v2 = Multimodal.screen(VideoCrop(every = 1))(probes, ext)
      v1.select(lit(1L).as("phase"), col("doc_id"), col("kept"),
          col("dup_src"))
        .unionAll(v2.select(lit(2L).as("phase"), col("doc_id"),
          col("kept"), col("dup_src")))
        .orderBy(col("phase"), col("doc_id"))
    }),

    // STREAMING thirds-cropped video dedup (extended=true on the st97
    // contract): micro-batch 1 delivers 6 48x48 masters — each
    // registers all 16 per-frame window channels into landmark-bucket
    // state — micro-batch 2 their rule-of-thirds-cropped + trimmed
    // re-uploads, structurally invisible to the base 7-channel state;
    // each crop's full-frame channel lands bit-exactly in its
    // master's thirds-window buckets. Consumer scores win=0 rows over
    // the probe's full-frame channel count >= 0.6. Pinned golden.
    "st99_stream_video_thirds_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val avi = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticAvi(id, 24, w = 48, h = 48)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.syntheticAvi(m, 20, w = 32, h = 32,
              frameOffset = 2, srcX0 = 8, srcY0 = 0)
            case 1 => Multimodal.syntheticAvi(m, 20, w = 32, h = 32,
              frameOffset = 2, srcX0 = 16, srcY0 = 16)
            case 2 => Multimodal.syntheticAvi(m, 20, w = 32, h = 32,
              frameOffset = 2, srcX0 = 0, srcY0 = 8)
            case _ => Multimodal.syntheticAvi(m, 20, w = 32, h = 32,
              frameOffset = 2, srcX0 = 8, srcY0 = 8)
          }
        })
      val staged = stageBatches("graft-stream-vthirds",
        payloads(s.range(0, 6), avi),
        payloads(s.range(1000000L, 1000004L), avi))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoCrop(every = 1, extended = true))(
        stream, maxBucket = 64)
      val out = drain(s, "append")("st99_out" -> hits)
      val win0 = out.filter(col("win") === 0)
      val nl = win0.groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
      val dup = win0
        .select(col("doc_id").as("d"), explode(col("hits")).as("src"))
        .groupBy(col("d"), col("src")).agg(count(lit(1)).as("c"))
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .filter(col("c").cast("double") / col("nl") >= 0.6)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nl.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // Incremental screen vs the persisted CROP-WINDOW pHash index —
    // the m128 tier's index member: 8 masters decode once into all 7
    // window hashes (28 chunk rows each — crop asymmetry puts the
    // window fan-out on the INDEX side, probes stay at 4 rows), then
    // an ingest batch of 6 structured crops plus 2 fresh images
    // screens with full-image hashes only. Probe 26's arbitrary-
    // offset crop stays kept (the scope edge, in the golden). Pinned
    // golden.
    "m129_crop_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id, 64, 64)
        else if (id == 20L) Multimodal.syntheticPngCrop(0, 16, 16, 48, 48)
        else if (id == 21L) Multimodal.syntheticPngCrop(1, 0, 0, 32, 32)
        else if (id == 22L) Multimodal.syntheticPngCrop(2, 32, 0, 64, 32)
        else if (id == 23L) Multimodal.syntheticPngCrop(3, 8, 8, 56, 56)
        else if (id == 24L) Multimodal.syntheticPngCrop(4, 0, 32, 32, 64)
        else if (id == 25L) Multimodal.syntheticPngCrop(5, 32, 32, 64, 64)
        else if (id == 26L) Multimodal.syntheticPngCrop(6, 20, 12, 52, 44)
        else Multimodal.syntheticPng(id, 64, 64))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.pHashCropWindowIndex(corpus)
      val probes = s.range(20, 27).union(s.range(140, 142))
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      Multimodal.screen(PHashCrop())(probes, index, maxDf = 64)
        .orderBy(col("doc_id"))
    }),

    // STREAMING crop-tolerant image dedup (the m128 tier in the
    // streaming matrix): micro-batch 1 delivers 8 masters — each
    // arrival registers all 7 canonical-window hashes into chunk
    // state (448 B/doc, the price of being crop-matchable later) —
    // micro-batch 2 their structured crops, whose whole-image hashes
    // land bit-exactly in the masters' window buckets. The plain
    // streaming tier (st72) would find nothing (the crop's full hash
    // aligns with no master hash). win = 0 rows carry the verdicts.
    // Pinned golden.
    "st96_stream_crop_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPng(id, 64, 64)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.syntheticPngCrop(m, 16, 16, 48, 48)
            case 1 => Multimodal.syntheticPngCrop(m, 0, 0, 32, 32)
            case 2 => Multimodal.syntheticPngCrop(m, 8, 8, 56, 56)
            case _ => Multimodal.syntheticPngCrop(m, 32, 32, 64, 64)
          }
        })
      val staged = stageBatches("graft-stream-crop",
        payloads(s.range(0, 8), img),
        payloads(s.range(1000000L, 1000008L), img))
      val stream = mediaStream(s, staged)
      val verdicts = StreamingNearDup.verdicts(PHashCrop())(
        stream, maxBucket = 64)
      drain(s, "append")("st96_out" -> verdicts)
        .filter(col("win") === 0)
        .groupBy(col("doc_id"))
        .agg(min(col("dup_src")).as("dup_src"))
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING thirds-ladder crop dedup (extended=true on the st96
    // contract): micro-batch 1 delivers 6 masters — each registers
    // all 16 window hashes (base 7 + thirds 9, 64 state rows/doc) —
    // micro-batch 2 their RULE-OF-THIRDS recomposition crops, which
    // the base window state is structurally blind to (Round11fSpec);
    // each crop's whole-image hash lands bit-exactly in its master's
    // thirds-window bucket. win = 0 rows carry the verdicts. Pinned
    // golden.
    "st98_stream_thirds_crop_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPng(id, 48, 48)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.syntheticPngCrop(m, 8, 0, 40, 32, 48, 48)
            case 1 => Multimodal.syntheticPngCrop(m, 16, 16, 48, 48, 48, 48)
            case 2 => Multimodal.syntheticPngCrop(m, 0, 8, 32, 40, 48, 48)
            case _ => Multimodal.syntheticPngCrop(m, 8, 8, 40, 40, 48, 48)
          }
        })
      val staged = stageBatches("graft-stream-thirds-crop",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val verdicts = StreamingNearDup.verdicts(PHashCrop(extended = true))(
        stream, maxBucket = 64)
      drain(s, "append")("st98_out" -> verdicts)
        .filter(col("win") === 0)
        .groupBy(col("doc_id"))
        .agg(min(col("dup_src")).as("dup_src"))
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // Incremental screen vs a ROLLING-detector onset index — the m119
    // tier's standing-corpus member (rolling=true on the m118 index
    // contract): 8 NOISY-floor masters (60 Hz hum under the beats)
    // indexed once with the rolling-RMS detector — a threshold-built
    // index of this corpus would be EMPTY (zero onsets anywhere;
    // Round11bSpec pins the structural miss) — then 6 trimmed
    // 44.1 kHz noisy re-uploads plus 2 fresh noisy docs screen
    // against it with no corpus re-decode. Landmark values share the
    // threshold tier's packing kernel; detector choice is a build
    // parameter (screen with what you built with). Pinned golden.
    "m127_rolling_onset_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavTones(id, 8000, ms = 1248,
          gateMs = 32, segMs = 96, permMs = 32, floorNum = 1,
          floorDen = 16)
        else if (id < 30) Multimodal.syntheticWavTones(id - 20, 44100,
          ms = 1120, offsetMs = 50, gateMs = 32, segMs = 96,
          permMs = 32, floorNum = 1, floorDen = 16)
        else Multimodal.syntheticWavTones(id, 44100, ms = 1120,
          gateMs = 32, segMs = 96, permMs = 32, floorNum = 1,
          floorDen = 16))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      val index = Multimodal.index(AudioOnsetRolling())(corpus)
      val probes = s.range(20, 26).union(s.range(130, 132))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.screen(AudioOnsetRolling())(probes, index)
        .orderBy(col("doc_id"))
    }),

    // Incremental screen vs the persisted PITCH-CLASS chroma index —
    // the m124 tier's index member (the m118/m121/m123 contract
    // shape): 8 metronomic masters indexed once (ChromaFpVersion-
    // stamped), then an ingest batch of 6 semitone-sped trimmed
    // 44.1 kHz re-uploads plus 2 fresh metronomic docs screens
    // against it with no corpus re-decode. Pinned golden.
    "m125_chroma_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavBeats(id, 8000, ms = 1248,
          uniformSegMs = 96)
        else if (id < 30) Multimodal.syntheticWavBeats(id - 20, 44100,
          ms = 1000, offsetMs = 50, speedNum = 196, speedDen = 185,
          uniformSegMs = 96)
        else Multimodal.syntheticWavBeats(id, 44100, ms = 1000,
          uniformSegMs = 96))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      val index = Multimodal.index(AudioChroma())(corpus)
      val probes = s.range(20, 26).union(s.range(130, 132))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.screen(AudioChroma())(probes, index)
        .orderBy(col("doc_id"))
    }),

    // The sub-semitone bank as an INDEX member (div=24 on the m125
    // contract, the m133 two-phase shape): 8 metronomic masters
    // indexed at BOTH divisions; phase 1 screens 6 QUARTER-TONE-sped
    // (176/171), 50 ms-trimmed 44.1 kHz re-uploads (+2 fresh decoys)
    // against the div=12 index — every probe KEPT (a quarter tone is
    // half a band step for the semitone bank: energy splits, the
    // structural miss m126 pins for the pairs op) — phase 2 against
    // the div=24 index, where a quarter tone is exactly one band
    // step. Probes fingerprint at the division they screen against
    // (the build-parameter contract). Pinned golden.
    "m135_quarter_tone_index" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticWavBeats(id, 8000, ms = 1248,
          uniformSegMs = 96)
        else if (id < 30) Multimodal.syntheticWavBeats(id - 20, 44100,
          ms = 1000, offsetMs = 50, speedNum = 176, speedDen = 171,
          uniformSegMs = 96)
        else Multimodal.syntheticWavBeats(id, 44100, ms = 1000,
          uniformSegMs = 96))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      val base = Multimodal.index(AudioChroma())(corpus)
      val fine = Multimodal.index(AudioChroma(div = 24))(corpus)
      val probes = s.range(20, 26).union(s.range(130, 132))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      val v1 = Multimodal.screen(AudioChroma())(probes, base)
      val v2 = Multimodal.screen(AudioChroma(div = 24))(probes, fine)
      v1.select(lit(1L).as("phase"), col("doc_id"), col("kept"),
          col("dup_src"))
        .unionAll(v2.select(lit(2L).as("phase"), col("doc_id"),
          col("kept"), col("dup_src")))
        .orderBy(col("phase"), col("doc_id"))
    }),

    // STREAMING pitch-shifted metronomic audio dedup (the m124 tier
    // in the streaming matrix): micro-batch 1 delivers 10 metronomic
    // masters at 8 kHz, micro-batch 2 their one-semitone-sped
    // (196/185), 50 ms-trimmed 44.1 kHz re-uploads — degenerate for
    // the interval streaming tier and invisible to every fixed-Hz
    // spectral streaming tier. Chroma-code buckets emit earlier
    // sharers; the batch query over the sink scores shared distinct
    // codes >= 0.6 over the smaller set (below the 0.727273 floor).
    // Pinned golden.
    "st95_stream_pitch_chroma_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val wav = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticWavBeats(id, 8000,
          ms = 1248, uniformSegMs = 96)
        else Multimodal.syntheticWavBeats(id - 1000000L, 44100,
          ms = 1000, offsetMs = 50, speedNum = 196, speedDen = 185,
          uniformSegMs = 96))
      val staged = stageBatches("graft-stream-chroma",
        payloads(s.range(0, 10), wav),
        payloads(s.range(1000000L, 1000010L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioChroma())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st95_out" -> hits), Share(0.6))
    }),

    // STREAMING quarter-tone metronomic audio dedup (div=24 on the
    // st95 contract): micro-batch 1 delivers 10 metronomic masters at
    // 8 kHz, micro-batch 2 their QUARTER-TONE-sped (176/171),
    // 50 ms-trimmed 44.1 kHz re-uploads — half a band step for the
    // semitone streaming tier (st95's bank pins zero cross-pairs on
    // this class via m126's fixture), exactly one step at div=24.
    // Same chroma-bucket state and scoring as st95. Pinned golden.
    "st100_stream_quarter_tone_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val wav = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticWavBeats(id, 8000,
          ms = 1248, uniformSegMs = 96)
        else Multimodal.syntheticWavBeats(id - 1000000L, 44100,
          ms = 1000, offsetMs = 50, speedNum = 176, speedDen = 171,
          uniformSegMs = 96))
      val staged = stageBatches("graft-stream-qtone",
        payloads(s.range(0, 10), wav),
        payloads(s.range(1000000L, 1000010L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioChroma(div = 24))(
        stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st100_out" -> hits), Share(0.6))
    }),

    // Incremental screen vs the persisted SKIP-LANDMARK video index —
    // the m122 tier's index member (the m118/m121 contract shape): 8
    // base AVIs indexed once (VideoSkipFpVersion-stamped), then an
    // ingest batch of 4 down-converted (5/4) + 2 up-converted (4/5)
    // trimmed re-uploads plus 2 fresh videos screens against it with
    // no corpus re-decode — where the aligned videoChunkIndex
    // (frame_idx keys) and consecutive-pair landmarks both break.
    // Pinned golden.
    "m123_video_rate_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, 40)
        else if (id < 24) Multimodal.syntheticAvi(id - 20, 28,
          frameOffset = 4, rateNum = 5, rateDen = 4)
        else if (id < 26) Multimodal.syntheticAvi(id - 20, 40,
          frameOffset = 4, rateNum = 4, rateDen = 5)
        else Multimodal.syntheticAvi(id, 40))
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      val index = Multimodal.index(VideoSkip())(corpus)
      val probes = s.range(20, 26).union(s.range(130, 132))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.screen(VideoSkip())(probes, index)
        .orderBy(col("doc_id"))
    }),

    // STREAMING frame-rate-converted video dedup (the m122 tier in
    // the streaming matrix): micro-batch 1 delivers 10 base AVIs,
    // micro-batch 2 their rate-converted re-uploads — ids ending
    // 0-4 down-converted (5/4, every 5th base frame dropped), 5-9
    // up-converted (4/5, every 4th duplicated), all leading-trimmed 4
    // frames. One dropped frame flips the sampling parity every
    // consecutive-pair streaming tier (st75) depends on; run-collapsed
    // gap-pair buckets emit earlier sharers regardless. The batch
    // query over the sink scores shared distinct landmarks >= 0.6
    // over the smaller set (below the 0.773585 down-conversion
    // floor). Pinned golden.
    "st94_stream_video_rate_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val avi = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticAvi(id, 40)
        else if ((id - 1000000L) % 10 < 5) Multimodal.syntheticAvi(
          id - 1000000L, 28, frameOffset = 4, rateNum = 5, rateDen = 4)
        else Multimodal.syntheticAvi(id - 1000000L, 40,
          frameOffset = 4, rateNum = 4, rateDen = 5))
      val staged = stageBatches("graft-stream-vrate",
        payloads(s.range(0, 10), avi),
        payloads(s.range(1000000L, 1000010L), avi))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoSkip())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st94_out" -> hits), Share(0.6))
    }),

    // WATERMARKED streaming exact dedup (the bounded-state form of
    // st65 — closes round-10 verdict task #6): dropDuplicatesWithin-
    // Watermark keeps a key's state only until the watermark passes
    // its FIRST event time + the 10-minute horizon, so state is
    // O(keys per horizon), not O(all keys ever) — the form a 100 TB
    // stream must run. Five micro-batches probe both sides of the
    // horizon with REFRESHED-timestamp re-deliveries (the retry shape
    // whose ingest time moves): E1+E3 at T0; E3 re-delivered at
    // T0+5min (inside the horizon — dropped by STATE, the cross-batch
    // dedup); E2 at T0+1h (advances the watermark past E1's expiry);
    // E1 re-delivered at T0+1h (eviction runs at batch END, so this
    // batch still sees live state — dropped, and the eviction it
    // triggers is the point); E1 re-delivered again at T0+1h05 —
    // state is GONE, the copy re-emits. n=2 for E1 is the PROOF the
    // state was evicted (bounded memory); every other event stays
    // exactly-once. The oracle derives both counts from the delivery
    // structure. A late re-delivery carrying its ORIGINAL timestamp
    // is dropped by the watermark's late-data filter instead —
    // either way no duplicate inside the horizon survives.
    "st88_stream_dedup_watermark" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      val base = t(s, dir, "events").select($"event_id", $"user_id",
        $"event_type")
      def at(lo: Long, hi: Long, ts: String): DataFrame =
        base.filter($"event_id" >= lo && $"event_id" < hi)
          .withColumn("ts", lit(ts).cast("timestamp"))
      val staged = stageBatches("graft-stream-wmdedup",
        at(0, 20, "2024-01-01 00:00:00")
            .unionByName(at(40, 60, "2024-01-01 00:00:00")),
        at(40, 60, "2024-01-01 00:05:00"),
        at(20, 40, "2024-01-01 01:00:00"),
        at(0, 20, "2024-01-01 01:00:00"),
        at(0, 20, "2024-01-01 01:05:00"))
      val schema = s.read.parquet(staged.toString).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
      drain(s, "append")("st88_out" -> stream)
        .groupBy($"event_id").agg(count(lit(1)).as("n"))
        .orderBy($"event_id")
    }),

    // MKV LACING walk (closes round-9 gap #2: real WebM PCM is
    // routinely laced, and the pre-round-10 walk skipped laced blocks
    // — silently contributing nothing to the audio tier): 10 ids,
    // each muxed TWICE — unlaced, and with the id-selected lacing on
    // the audio block (1 = Xiph 255-run sizes, 2 = fixed equal split,
    // 3 = EBML signed-delta sizes) — and the extracted WAVs must be
    // byte-identical per id (md5 compare), since the laced frames
    // concatenate to exactly the unlaced block payload. The oracle is
    // the contract itself: all 10 ids extract from BOTH muxes and
    // match. Malformed-lacing fuzz is pinned in Round10Spec.
    "m107_mkv_laced_audio" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val mk = udf((id: Long, lac: Int) =>
        Multimodal.syntheticMkv(id, (4 + id % 3).toInt,
          audioId = id % 5, audioSamples = (320 + (id % 5) * 64).toInt,
          lacing = lac))
      val plain = s.range(0, 10).select(col("id").as("doc_id"),
        mk(col("id"), lit(0)).as("payload"))
      val laced = s.range(0, 10).select(col("id").as("doc_id"),
        mk(col("id"), (col("id") % 3 + 1).cast("int")).as("payload"))
      val wp = Multimodal.videoAudioTracks(plain)
        .select(col("doc_id"), md5(col("payload")).as("h_plain"))
      val wl = Multimodal.videoAudioTracks(laced)
        .select(col("doc_id"), md5(col("payload")).as("h_laced"))
      wp.join(wl, Seq("doc_id"))
        .select(col("doc_id"), (col("h_plain") === col("h_laced")).as("same"))
        .orderBy(col("doc_id"))
    }),

    // JOINT audio+video fusion verdict (the tier above m82/m88): one
    // corpus, three planted re-upload shapes — (0,20) same frames AND
    // same audio muxed MKV ("reupload"), (1,21) same audio under a
    // different frame stream muxed MP4 ("same_audio" — the reaction
    // video), (2,22) same frames under a different audio track
    // ("same_video" — the re-dub); 23 is unrelated and must not pair.
    // Cross-container by construction: AVI corpus, MKV/MP4 re-uploads.
    // Pinned golden (JDK JPEG codec leg in the frame tier).
    "m95_video_joint" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val mk = udf((id: Long) => id match {
        case 20L => Multimodal.syntheticMkv(0L, 6, audioId = 0L,
          audioSamples = 320)
        case 21L => Multimodal.syntheticMp4(21L, 7, audioId = 1L,
          audioSamples = 384)
        case 22L => Multimodal.syntheticMkv(2L, 8, audioId = 99L,
          audioSamples = 320)
        case 23L => Multimodal.syntheticAvi(23L, 6, mjpeg = true,
          audioId = 98L, audioSamples = 320)
        case i => Multimodal.syntheticAvi(i, (6 + i % 3).toInt,
          mjpeg = true, audioId = i, audioSamples = (320 + (i % 4) * 64).toInt)
      })
      val media = s.range(0, 4).union(s.range(20, 24))
        .select(col("id").as("doc_id"), mk(col("id")).as("payload"))
      Multimodal.videoJointNearDup(media)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // JOINT fusion at the ROT-constellation seam (m162 — the m95
    // verdict re-pointed at the m154 frame tier): re-uploads whose
    // frames are rotated at any angle / rescaled, with the track kept
    // or replaced — (0,20) 17-deg rotation + same track ("reupload"),
    // (1,21) fresh frames over master 1's track ("same_audio"),
    // (2,22) -8-deg + 1.2x under a replaced track ("same_video");
    // 23 unrelated, must not pair. The ALIGNED m95 tier provably
    // degrades/misses the rotated frame legs (Round12Spec contrast).
    // Pinned golden (JDK Graphics2D rotation leg in the fixtures).
    "m162_video_joint_rot" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val mk = udf((id: Long) => id match {
        case 20L => Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(0, 6), 17.0,
          audioId = 0L, audioSamples = 320)
        case 21L => Multimodal.syntheticAviBlobs(21, 6,
          audioId = 1L, audioSamples = 384)
        case 22L => Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(2, 6), -8.0, 1.2,
          audioId = 99L, audioSamples = 320)
        case 23L => Multimodal.syntheticAviBlobs(23, 6,
          audioId = 98L, audioSamples = 320)
        case i => Multimodal.syntheticAviBlobs(i, 6,
          audioId = i, audioSamples = (320 + (i % 4) * 64).toInt)
      })
      val media = s.range(0, 4).union(s.range(20, 24))
        .select(col("id").as("doc_id"), mk(col("id")).as("payload"))
      Multimodal.videoJointRotNearDup(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // JOINT incremental screen at the rot seam (m168): the m162
    // verdict against PERSISTED indexes — 4 masters fingerprint once
    // (m155 rot frame index + audio code index over their extracted
    // tracks), then the m162 probe batch classifies with no corpus
    // re-decode: 20 reupload, 21 same_audio, 22 same_video, 23 and
    // two fresh docs kept. Pinned golden.
    "m168_video_joint_rot_index" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val mk = udf((id: Long) => id match {
        case 20L => Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(0, 6), 17.0,
          audioId = 0L, audioSamples = 320)
        case 21L => Multimodal.syntheticAviBlobs(21, 6,
          audioId = 1L, audioSamples = 384)
        case 22L => Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(2, 6), -8.0, 1.2,
          audioId = 99L, audioSamples = 320)
        case 23L => Multimodal.syntheticAviBlobs(23, 6,
          audioId = 98L, audioSamples = 320)
        case i => Multimodal.syntheticAviBlobs(i, 6,
          audioId = i, audioSamples = (320 + (i % 4) * 64).toInt)
      })
      val corpus = s.range(0, 4)
        .select(col("id").as("doc_id"), mk(col("id")).as("payload"))
      val videoIndex = Multimodal.index(VideoRotScale())(corpus)
      val audioIndex = Multimodal.index(AudioCode)(Multimodal.videoAudioTracks(corpus))
      val probes = s.range(20, 24).union(s.range(130, 132))
        .select(col("id").as("doc_id"), mk(col("id")).as("payload"))
      Multimodal.videoJointRotIndexScreen(probes, videoIndex,
          audioIndex)
        .orderBy(col("doc_id"))
    }),

    // STREAM-STATIC fused index screen (st121 — the m168 verdict at
    // the st103 broadcast seam): arrivals' rot-constellation frame
    // landmarks AND extracted-track audio codes equi-join two
    // BROADCAST standing-corpus indexes — no state store at all, two
    // stateless map-side joins — and the per-arrival leg scores fuse
    // to reupload / same_video / same_audio / kept mid-stream with no
    // corpus re-decode. Batch 1 delivers the rotated-reupload and
    // reaction-video shapes, batch 2 the re-dub and an unrelated
    // video. Pinned golden.
    "st121_stream_joint_index_screen" -> ((s0, dir) => { val s = streamSession(s0)
      implicit val sp: SparkSession = s
      val mk = udf((id: Long) => id match {
        case 20L => Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(0, 6), 17.0,
          audioId = 0L, audioSamples = 320)
        case 21L => Multimodal.syntheticAviBlobs(21, 6,
          audioId = 1L, audioSamples = 384)
        case 22L => Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(2, 6), -8.0, 1.2,
          audioId = 99L, audioSamples = 320)
        case 23L => Multimodal.syntheticAviBlobs(23, 6,
          audioId = 98L, audioSamples = 320)
        case i => Multimodal.syntheticAviBlobs(i, 6,
          audioId = i, audioSamples = (320 + (i % 4) * 64).toInt)
      })
      val corpus = s.range(0, 4)
        .select(col("id").as("doc_id"), mk(col("id")).as("payload"))
      val vIndex = Multimodal.index(VideoRotScale())(corpus)
        .select(col("lm"), col("doc_id").as("src"), col("nl").as("nl_src"))
      val aIndex = Multimodal.index(AudioCode)(Multimodal.videoAudioTracks(corpus))
        .select(col("frame_idx"), col("code"),
          col("doc_id").as("src"), col("nf").as("nf_src"))
      val staged = stageBatches("graft-stream-jointidx",
        payloads(s.range(20, 22), mk),
        payloads(s.range(22, 24), mk))
      def freshStream = mediaStream(s, staged)
      val video = drain(s, "append")(
        "st121_v" -> Multimodal.VideoRotScale().landmarks(freshStream)
          .join(broadcast(vIndex), Seq("lm"), "left"),
        "st121_a" -> Multimodal.audioFingerprint(
            Multimodal.videoAudioTracks(freshStream)).toDF()
          .join(broadcast(aIndex), Seq("frame_idx", "code"), "left"))
      val vnl = video.groupBy(col("doc_id"))
        .agg(countDistinct(col("lm")).as("nl"))
      val vdup = video.filter(col("src").isNotNull)
        .select(col("doc_id").as("d"), col("lm"), col("src"), col("nl_src"))
        .groupBy(col("d"), col("src"), col("nl_src"))
        .agg(countDistinct(col("lm")).as("c"))
        .join(vnl, col("d") === vnl("doc_id")).drop("doc_id")
        .filter(col("c").cast("double") / least(col("nl"), col("nl_src"))
          >= 0.2)
        .groupBy(col("d")).agg(min(col("src")).as("video_src"))
        .select(col("d").as("doc_id"), col("video_src"))
      val anf = s.table("st121_a").groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nf"))
      val adup = s.table("st121_a").filter(col("src").isNotNull)
        .select(col("doc_id").as("d"), col("src"), col("nf_src"))
        .groupBy(col("d"), col("src"), col("nf_src"))
        .agg(count(lit(1)).as("c"))
        .join(anf, col("d") === anf("doc_id")).drop("doc_id")
        .filter(col("c").cast("double") / least(col("nf"), col("nf_src"))
          >= 0.8)
        .groupBy(col("d")).agg(min(col("src")).as("audio_src"))
        .select(col("d").as("doc_id"), col("audio_src"))
      s.range(20, 24).select(col("id").as("doc_id"))
        .join(vdup, Seq("doc_id"), "left")
        .join(adup, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("video_src").isNotNull && col("audio_src").isNotNull,
              lit("reupload"))
            .when(col("audio_src").isNotNull, lit("same_audio"))
            .when(col("video_src").isNotNull, lit("same_video"))
            .otherwise(lit("kept")).as("verdict"),
          col("video_src"), col("audio_src"))
        .orderBy(col("doc_id"))
    }),

    // SUBTITLE-track extraction dedup — the video→TEXT bridge (the
    // m88/m91/m94 extraction pattern, third modality): 10 MKVs whose
    // "S_TEXT/UTF8" cue stream id is doc_id % 5; extraction
    // concatenates the track's cues across clusters and plain exact
    // text dedup (md5 self-join) finds the same-subtitle re-uploads.
    // The cue text is an integer formula, so the oracle regenerates it
    // with string_agg and replays the match in SQL.
    "m96_subtitle_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val mkv = udf((id: Long) =>
        Multimodal.syntheticMkv(id, (4 + id % 3).toInt,
          subsId = id % 5, subsCues = (6 + id % 5).toInt))
      val media = s.range(0, 10)
        .select(col("id").as("doc_id"), mkv(col("id")).as("payload"))
      val t = Multimodal.videoSubtitleTexts(media)
        .select(col("doc_id"), md5(col("text")).as("h"))
      t.as("a").join(t.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // STREAMING flip-tolerant VIDEO dedup: micro-batch 1 delivers 10
    // base videos, micro-batch 2 their MIRRORED AND TRIMMED re-uploads
    // (first 2 frames cut, then flipped — the compound lossless edit
    // that evades st75's exact landmark state AND the aligned tiers).
    // Arrivals probe landmark buckets with both orientations' sets;
    // only as-is landmarks enter state; scoring takes the best
    // orientation's hit count over the orient-0 landmark denominator.
    // Pinned golden.
    "st79_stream_video_flip_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val avi = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticAvi(id, (6 + id % 3).toInt)
        else Multimodal.syntheticAvi(id - 1000000L,
          (6 + (id - 1000000L) % 3).toInt - 2, frameOffset = 2,
          mirrorX = true))
      val staged = stageBatches("graft-stream-vflip",
        payloads(s.range(0, 10), avi),
        payloads(s.range(1000000L, 1000010L), avi))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoShiftFlip())(stream, maxBucket = 64)
      val out = drain(s, "append")("st79_out" -> hits)
      val nl = out.filter(col("orient") === 0)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
      val nlSrc = nl.select(col("doc_id").as("src_id"), col("nl").as("nl_src"))
      val best = out
        .select(col("doc_id").as("d"), col("orient"), explode(col("hits")).as("src"))
        .groupBy(col("d"), col("orient"), col("src")).agg(count(lit(1)).as("c"))
        .groupBy(col("d"), col("src")).agg(max(col("c")).as("c"))
      val dup = best
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .join(nlSrc, col("src") === col("src_id"))
        .filter(col("c").cast("double") / least(col("nl"), col("nl_src"))
          >= 0.6)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nl.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING dihedral-8 VIDEO dedup (the m111 tier in the streaming
    // matrix, and the compound the st75/st79 ladder leaves open):
    // micro-batch 1 delivers 10 base AVIs, micro-batch 2 their
    // re-uploads with the leading 2 frames CUT and every frame
    // ROTATED a quarter turn (ids 1000000-4/-9 split between pure
    // rotation and rotate-after-mirror) — aligned, mirror-only and
    // as-is landmark state are all blind; the 8-orientation landmark
    // probes land every re-delivery on its source. Only orient-0
    // landmarks enter state. Pinned golden.
    "st83_stream_video_dihedral_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val avi = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticAvi(id, (6 + id % 3).toInt)
        else if (id < 1000005L) Multimodal.syntheticAvi(id - 1000000L,
          (6 + (id - 1000000L) % 3).toInt - 2, frameOffset = 2,
          rotQ = (id % 3 + 1).toInt)
        else Multimodal.syntheticAvi(id - 1000000L,
          (6 + (id - 1000000L) % 3).toInt - 2, frameOffset = 2,
          rotQ = (id % 3 + 1).toInt, mirrorX = true))
      val staged = stageBatches("graft-stream-vdih",
        payloads(s.range(0, 10), avi),
        payloads(s.range(1000000L, 1000010L), avi))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoShiftDihedral())(
        stream, maxBucket = 64)
      val out = drain(s, "append")("st83_out" -> hits)
      val nl = out.filter(col("orient") === 0)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("nl"))
      val nlSrc = nl.select(col("doc_id").as("src_id"), col("nl").as("nl_src"))
      val best = out
        .select(col("doc_id").as("d"), col("orient"), explode(col("hits")).as("src"))
        .groupBy(col("d"), col("orient"), col("src")).agg(count(lit(1)).as("c"))
        .groupBy(col("d"), col("src")).agg(max(col("c")).as("c"))
      val dup = best
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .join(nlSrc, col("src") === col("src_id"))
        .filter(col("c").cast("double") / least(col("nl"), col("nl_src"))
          >= 0.6)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nl.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING rotation-tolerant image dedup (the m105 tier in the
    // streaming matrix): micro-batch 1 delivers 20 base PNGs,
    // micro-batch 2 ten quarter-/half-turned reposts (plain-pHash
    // state is blind to them; all ten land on their sources) and ten
    // lightly-edited unrotated variants (nine land; variant 1000010
    // drifts past hamming 3 and is kept — the m85 precedent). Only
    // as-is hashes enter state; rotated probes land in their source's
    // buckets by construction. Pinned golden.
    "st80_stream_phash_rot_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val png = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPng(id)
        else if (id < 1000010L)
          Multimodal.syntheticPngRot(id - 1000000L, (id % 3 + 1).toInt)
        else Multimodal.syntheticPngVariant(id - 1000000L))
      val staged = stageBatches("graft-stream-phrot",
        payloads(s.range(0, 20), png),
        payloads(s.range(1000000L, 1000020L), png))
      val stream = mediaStream(s, staged)
      val verdicts = StreamingNearDup.verdicts(PHashRot)(stream, maxBucket = 64)
      drain(s, "append")("st80_out" -> verdicts)
        .groupBy(col("doc_id"))
        .agg(min(col("dup_src")).as("dup_src"))
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING dihedral-8 image dedup (the m109 tier in the
    // streaming matrix — the compound-repost hole st78 and st80 each
    // leave open): micro-batch 1 delivers 20 base PNGs, micro-batch 2
    // ten MIRRORED-then-ROTATED reposts (flip-only and rot-only state
    // are both blind to them; all ten land on their sources via the
    // 8-orientation probe set) and ten lightly-edited untransformed
    // variants (nine land; variant 1000010 drifts past hamming 3 and
    // is kept — the m85 precedent). Only as-is hashes enter state
    // (4 x 16 B per doc, unchanged). Pinned golden.
    "st81_stream_phash_dihedral_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val png = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPng(id)
        else if (id < 1000010L)
          Multimodal.syntheticPngRotFlip(id - 1000000L, (id % 3 + 1).toInt)
        else Multimodal.syntheticPngVariant(id - 1000000L))
      val staged = stageBatches("graft-stream-phdih",
        payloads(s.range(0, 20), png),
        payloads(s.range(1000000L, 1000020L), png))
      val stream = mediaStream(s, staged)
      val verdicts = StreamingNearDup.verdicts(PHashDihedral)(
        stream, maxBucket = 64)
      drain(s, "append")("st81_out" -> verdicts)
        .groupBy(col("doc_id"))
        .agg(min(col("dup_src")).as("dup_src"))
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING flip-tolerant image dedup (the m102 tier in the
    // streaming matrix): micro-batch 1 delivers 20 base PNGs,
    // micro-batch 2 ten MIRRORED reposts (plain-pHash state is blind
    // to them; all ten land on their sources) and ten lightly-edited
    // unflipped variants (nine land; variant 1000010 drifts past
    // hamming 3 and is kept — the m85 drift precedent). Only as-is
    // hashes enter state (4 x 16 B per doc, unchanged); mirrored
    // probes land in their source's buckets by construction. Pinned
    // golden.
    "st78_stream_phash_flip_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val png = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPng(id)
        else if (id < 1000010L) Multimodal.syntheticPngFlip(id - 1000000L)
        else Multimodal.syntheticPngVariant(id - 1000000L))
      val staged = stageBatches("graft-stream-phflip",
        payloads(s.range(0, 20), png),
        payloads(s.range(1000000L, 1000020L), png))
      val stream = mediaStream(s, staged)
      val verdicts = StreamingNearDup.verdicts(PHashFlip)(
        stream, maxBucket = 64)
      drain(s, "append")("st78_out" -> verdicts)
        .groupBy(col("doc_id"))
        .agg(min(col("dup_src")).as("dup_src"))
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // FRAGMENTED-MP4 → AUDIO extraction dedup (the m88/m91/m94 gate at
    // the DASH mux): 10 fMP4s whose track-2 'sowt' fragments carry the
    // doc_id % 5 PCM stream — same audio under different frame
    // streams, all samples fragment-resident (empty moov tables). The
    // m80 landmark tier finds the plants; the oracle replays the m91
    // arithmetic verbatim (same id space, same bid formula — only the
    // sample-table form changed, which the replay never sees).
    "m104_fmp4_audio_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val mp4 = udf((id: Long) =>
        Multimodal.syntheticFmp4(id, (4 + id % 3).toInt,
          perFrag = 2 + (id % 2).toInt,
          audioId = id % 5, audioSamples = (320 + (id % 5) * 64).toInt))
      val media = s.range(0, 10)
        .select(col("id").as("doc_id"), mp4(col("id")).as("payload"))
      Multimodal.pairs(AudioLandmark())(Multimodal.videoAudioTracks(media),
        maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // FLIP-tolerant VIDEO near-dup: 10 DIB originals, 10 re-uploads
    // that are MIRRORED and globally re-leveled (delta=12) at once —
    // the pirate mirror-flip that defeats exact, aligned-pHash AND
    // landmark dedup simultaneously (every frame's hash changes).
    // Dual-orientation frame hashing catches all 10 on their sources;
    // the spec additionally pins that the plain aligned tier misses
    // them. Pinned golden (StrictMath DCT path).
    "m103_video_flip_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, (4 + id % 3).toInt)
        else Multimodal.syntheticAvi(id - 20, (4 + (id - 20) % 3).toInt,
          delta = 12, global0 = true, mirrorX = true))
      val media = s.range(0, 10).union(s.range(20, 30))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.pairs(VideoFramesFlip())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // DIHEDRAL-8 VIDEO near-dup (the m109 trick per frame — completes
    // the orientation matrix for video): 8 DIB originals, 4 reposts
    // ROTATED by quarter turns and 2 rotated AFTER mirroring (the
    // compound) — every frame's hash changes, so the plain aligned
    // tier and the mirror-only m103 tier both provably miss them
    // (Round10Spec pins the misses); all 8 orientation hashes per
    // sampled frame land every repost on its source at match_frac
    // 1.0. Pinned golden (StrictMath DCT path).
    "m111_video_dihedral_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, (4 + id % 3).toInt)
        else if (id < 30) Multimodal.syntheticAvi(id - 20,
          (4 + (id - 20) % 3).toInt, rotQ = (id % 3 + 1).toInt)
        else Multimodal.syntheticAvi(id - 30,
          (4 + (id - 30) % 3).toInt, rotQ = (id % 3 + 1).toInt,
          mirrorX = true))
      val media = s.range(0, 8).union(s.range(20, 24)).union(s.range(30, 32))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.pairs(VideoFramesDihedral())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ROTATION-tolerant image near-dup (the m102 trick, quarter-turn
    // axis): 8 base PNGs and 6 reposts rotated by 90/180/270 degrees —
    // the phone-orientation re-upload whose bytes AND hash change.
    // Four orientation hashes per image from one decode; square
    // fixtures make the rotated-hash recovery exact, so every planted
    // pair lands at distance 0. Mirroring composes with m102 for the
    // full dihedral-8 set. Pinned golden.
    "m105_phash_rot_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val png = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id)
        else Multimodal.syntheticPngRot(id - 20, (id % 3 + 1).toInt))
      val media = s.range(0, 8).union(s.range(20, 26))
        .select(col("id").as("doc_id"), png(col("id")).as("payload"))
      Multimodal.pairs(PHashRot)(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // DIHEDRAL-8 image near-dup in ONE pass (closes the m102 x m105
    // composition gap): 8 base PNGs and 6 COMPOUND reposts — mirrored
    // THEN quarter-turned (turns 1/3 = transpose-type, 2 = vertical
    // flip) — the repost class the rotation-only and mirror-only
    // probe sets each provably miss (Round10Spec pins both misses).
    // Eight orientation hashes per image from one decode; square
    // lossless fixtures land every planted pair at distance 0.
    // Pinned golden.
    "m109_phash_dihedral_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val png = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id)
        else Multimodal.syntheticPngRotFlip(id - 20, (id % 3 + 1).toInt))
      val media = s.range(0, 8).union(s.range(20, 26))
        .select(col("id").as("doc_id"), png(col("id")).as("payload"))
      Multimodal.pairs(PHashDihedral)(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // FLIP-tolerant image near-dup: 8 base PNGs, 4 horizontally
    // MIRRORED reposts (different bytes AND different pHash — the
    // repost vector both exact and plain-pHash dedup miss), 2 lightly
    // edited unflipped variants (must still surface — the tolerant
    // form is a strict superset of m78), and 2 unrelated. Every image
    // probes both orientations from one decode. Pinned golden (codec
    // + StrictMath DCT path).
    "m102_phash_flip_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val png = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticPng(id)
        else if (id < 24) Multimodal.syntheticPngFlip(id - 20)
        else if (id < 26) Multimodal.syntheticPngVariant(id - 20)
        else Multimodal.syntheticPng(id))
      val media = s.range(0, 8).union(s.range(20, 28))
        .select(col("id").as("doc_id"), png(col("id")).as("payload"))
      Multimodal.pairs(PHashFlip)(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // CHANNEL-LAYOUT-invariant audio dedup: 10 mono WAVs and 10
    // dual-mono STEREO re-uploads of the same recordings (L == R —
    // what every channel converter emits). The interleaved stream
    // differs byte-for-byte and would fingerprint as noise; the
    // per-frame channel-mean downmix in the canonicalization pass
    // recovers the master exactly, so the landmark tier matches
    // across layouts. Oracle = the m99 replay verbatim (the downmixed
    // stream IS the base formula; the id spaces are identical).
    "m101_audio_stereo_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 1000000L)
          Multimodal.syntheticWavTex(id % 5, (320 + (id % 5) * 64).toInt)
        else Multimodal.syntheticWavTexStereo((id - 1000000L) % 5,
          (320 + ((id - 1000000L) % 5) * 64).toInt))
      val media = s.range(0, 10).union(s.range(1000000L, 1000010L))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioLandmark())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Incremental VIDEO dedup vs a persisted chunk index — the
    // t69/s56/m85/m86 contract at the video tier, completing the
    // incremental-index family across all five modalities: index 10
    // DIB AVIs once, screen 10 re-leveled re-uploads (the m82
    // re-encode fixture: delta=12 + global re-level — different bytes,
    // pHash within hamming 3 per frame) plus 2 unrelated videos that
    // must stay kept. Pinned golden (StrictMath DCT path).
    "m100_video_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticAvi(id, (4 + id % 3).toInt)
        else if (id < 2000000L) Multimodal.syntheticAvi(id - 1000000L,
          (4 + (id - 1000000L) % 3).toInt, delta = 12, global0 = true)
        else Multimodal.syntheticAvi(id, (5 + id % 2).toInt))
      val index = Multimodal.videoChunkIndex(s.range(0, 10).select(col("id").as("doc_id"), avi(col("id")).as("payload")))
      val probes = s.range(1000000L, 1000010L).union(s.range(2000000L, 2000002L))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.dedupAgainstVideoIndex(probes, index, maxDf = 64)
        .orderBy(col("doc_id"))
    }),

    // RESAMPLE-invariant audio dedup: 10 WAVs at 8 kHz and 10
    // re-uploads of the same recordings muxed at 16 kHz (zero-order
    // hold — every on-grid sample preserved). The rate-blind
    // fingerprint would frame entirely different windows; integer
    // decimation to the canonical rate recovers the master stream
    // bit-exactly, so the landmark tier matches across rates. Integer
    // arithmetic end to end: the oracle regenerates the DECIMATED
    // stream (= the base formula) for both id spaces and replays the
    // landmark match in SQL.
    "m99_audio_resample_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 1000000L)
          Multimodal.syntheticWavTex(id % 5, (320 + (id % 5) * 64).toInt)
        else Multimodal.syntheticWavTexRate((id - 1000000L) % 5,
          (320 + ((id - 1000000L) % 5) * 64).toInt, factor = 2))
      val media = s.range(0, 10).union(s.range(1000000L, 1000010L))
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.pairs(AudioLandmark())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // STREAMING joint audio+video fusion (the m95 verdict in the
    // streaming matrix): the same corpus/re-upload fixture arrives in
    // two micro-batches; the FRAME tier (video landmark state) and the
    // AUDIO tier (landmark state over tracks extracted INSIDE the
    // stream) each run as a streaming query over the same staged
    // files, and the fusion classification joins the two sinks in the
    // batch scoring pass — the st73 "score over the sink" contract
    // applied to two tiers at once. Pinned golden (JDK JPEG codec leg
    // in the frame tier).
    "st77_stream_video_joint" -> ((s0, dir) => { val s = streamSession(s0)
      implicit val sp: SparkSession = s
      val mk = udf((id: Long) => id match {
        case 20L => Multimodal.syntheticMkv(0L, 6, audioId = 0L,
          audioSamples = 320)
        case 21L => Multimodal.syntheticMp4(21L, 7, audioId = 1L,
          audioSamples = 384)
        case 22L => Multimodal.syntheticMkv(2L, 8, audioId = 99L,
          audioSamples = 320)
        case 23L => Multimodal.syntheticAvi(23L, 6, mjpeg = true,
          audioId = 98L, audioSamples = 320)
        case i => Multimodal.syntheticAvi(i, (6 + i % 3).toInt,
          mjpeg = true, audioId = i,
          audioSamples = (320 + (i % 4) * 64).toInt)
      })
      val staged = stageBatches("graft-stream-joint",
        payloads(s.range(0, 4), mk),
        payloads(s.range(20, 24), mk))
      def freshStream = mediaStream(s, staged)
      // both tiers run CONCURRENTLY over their own source instances —
      // they share no state, so the drains overlap and the wall cost
      // is one tier's trigger latency, not the sum
      val video = drain(s, "append")(
        "st77_v" -> StreamingNearDup.hits(VideoShift())(freshStream,
          maxBucket = 64),
        "st77_a" -> StreamingNearDup.hits(AudioLandmark())(
          Multimodal.videoAudioTracks(freshStream), maxBucket = 64))
      // per-tier scoring over its sink (the st74/st75 form), then fuse
      val ids = s.range(0, 4).union(s.range(20, 24))
        .select(col("id").as("doc_id"))
      val v = voteDups(video, Share(0.6))._2
        .select(col("d").as("doc_id"), col("dup_src").as("video_src"))
      val a = voteDups(s.table("st77_a"), Share(0.6))._2
        .select(col("d").as("doc_id"), col("dup_src").as("audio_src"))
      ids.join(v, Seq("doc_id"), "left").join(a, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("video_src").isNotNull && col("audio_src").isNotNull,
              lit("reupload"))
            .when(col("audio_src").isNotNull, lit("same_audio"))
            .when(col("video_src").isNotNull, lit("same_video"))
            .otherwise(lit("kept")).as("verdict"),
          col("video_src"), col("audio_src"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING unknown-strong-squeeze dedup (st117 — the m165
    // canonical tier in the streaming matrix): micro-batch 1 delivers
    // 6 blob masters (canonical codes enter bucket state),
    // micro-batch 2 their 1.5-1.7:1 squeezed re-deliveries (one
    // +uniform, one +JPEG, one vertical — the m165 shapes), which the
    // aspect-hypothesis streaming tier is structurally blind to at
    // any default set. Consumer scores shared distinct landmarks over
    // the smaller set at the tier's 0.3 gate. Pinned golden.
    "st117_stream_canonical_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPngBlobs(id)
        else {
          val m = id - 1000000L
          (m % 4) match {
            case 0 => Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 0, 0, 128, 128, 80, 128)
            case 1 => Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 0, 0, 128, 128, 68, 102)
            case 2 => Multimodal.jpegReencode(Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 0, 0, 128, 128, 75, 128),
              0.85f)
            case _ => Multimodal.pngCropResize(
              Multimodal.syntheticPngBlobs(m), 0, 0, 128, 128, 128, 80)
          }
        })
      val staged = stageBatches("graft-stream-canon",
        payloads(s.range(0, 6), img),
        payloads(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(ImageScaleCanonical())(
        stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st117_out" -> hits), Share(0.3))
    }),

    // STREAMING joint fusion at the ROT-constellation seam (st116 —
    // st77 re-pointed at the m162 tiers): batch 1 delivers 4 blob
    // masters each carrying its own PCM track, batch 2 the m162 probe
    // shapes — 17-deg rotation + same track (reupload), fresh frames
    // over master 1's track (same_audio), -8-deg + 1.2x under a
    // replaced track (same_video), one unrelated. The two tiers drain
    // CONCURRENTLY over their own source instances (the st77
    // optimization); per-tier sink scoring at each tier's operating
    // gate, then the same verdict fusion. Pinned golden.
    "st116_stream_video_joint_rot" -> ((s0, dir) => { val s = streamSession(s0)
      implicit val sp: SparkSession = s
      val mk = udf((id: Long) => id match {
        case 20L => Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(0, 6), 17.0,
          audioId = 0L, audioSamples = 320)
        case 21L => Multimodal.syntheticAviBlobs(21, 6,
          audioId = 1L, audioSamples = 384)
        case 22L => Multimodal.aviRotateResizeDib(
          Multimodal.syntheticAviBlobs(2, 6), -8.0, 1.2,
          audioId = 99L, audioSamples = 320)
        case 23L => Multimodal.syntheticAviBlobs(23, 6,
          audioId = 98L, audioSamples = 320)
        case i => Multimodal.syntheticAviBlobs(i, 6,
          audioId = i, audioSamples = (320 + (i % 4) * 64).toInt)
      })
      val staged = stageBatches("graft-stream-jointrot",
        payloads(s.range(0, 4), mk),
        payloads(s.range(20, 24), mk))
      def freshStream = mediaStream(s, staged)
      val video = drain(s, "append")(
        "st116_v" -> StreamingNearDup.hits(VideoRotScale())(freshStream,
          maxBucket = 64),
        "st116_a" -> StreamingNearDup.hits(AudioLandmark())(
          Multimodal.videoAudioTracks(freshStream), maxBucket = 64))
      val ids = s.range(0, 4).union(s.range(20, 24))
        .select(col("id").as("doc_id"))
      val v = voteDups(video, Share(0.2))._2
        .select(col("d").as("doc_id"), col("dup_src").as("video_src"))
      val a = voteDups(s.table("st116_a"), Share(0.6))._2
        .select(col("d").as("doc_id"), col("dup_src").as("audio_src"))
      ids.join(v, Seq("doc_id"), "left").join(a, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("video_src").isNotNull && col("audio_src").isNotNull,
              lit("reupload"))
            .when(col("audio_src").isNotNull, lit("same_audio"))
            .when(col("video_src").isNotNull, lit("same_video"))
            .otherwise(lit("kept")).as("verdict"),
          col("video_src"), col("audio_src"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING URL-canonical exact dedup (st119 — the t86
    // canonicalizer at the stream seam): micro-batch 1 delivers 50
    // pages under one URL dressing (scheme/host case, www., default
    // port, trailing slash, utm_ trackers, fragment), micro-batch 2
    // re-crawls the SAME 50 pages under a different dressing (lower
    // case, params reordered, a different tracker) plus 20 genuinely
    // new pages. Raw-string dedup would keep every re-crawl;
    // dropDuplicates on the CANONICAL key drops all 50 and keeps the
    // 20. Delivery is id-ordered, so kept = min doc_id per canonical
    // key — full SQL replay.
    "st119_stream_url_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      def srcLbl(page: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit("src"), (page % 20).cast("string"))
      def urlA(page: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
        lit("HTTPS://WWW.Docs."), srcLbl(page),
        lit(".COM:443/Wiki/Page-"), page.cast("string"),
        lit("/?utm_source=feed&a=1&b=2#x"))
      def urlB(page: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
        lit("https://docs."), srcLbl(page),
        lit(".com/Wiki/Page-"), page.cast("string"),
        lit("?b=2&a=1&utm_campaign=z"))
      val staged = stageBatches("graft-stream-url",
        s.range(0, 50).select(col("id").as("doc_id"),
          urlA(col("id")).as("url")),
        s.range(1000000L, 1000050L).select(col("id").as("doc_id"),
              urlB(col("id") - 1000000L).as("url"))
            .unionByName(s.range(2000000L, 2000020L)
              .select(col("id").as("doc_id"),
                urlB(col("id") - 2000000L + 50L).as("url"))))
      val urlSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("url", StringType)))
      val stream = s.readStream.schema(urlSchema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        .select(col("doc_id"),
          graft.operators.TextAnalysis.canonicalizeUrl(col("url"))
            .as("url_canon"))
        .dropDuplicates("url_canon")
      val out = drain(s, "append")("st119_out" -> stream)
      val ids = s.range(0, 50).union(s.range(1000000L, 1000050L))
        .union(s.range(2000000L, 2000020L)).select(col("id").as("doc_id"))
      ids.join(out.select(col("doc_id"), lit(true).as("hit")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("kept"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING embedding dedup vs a BROADCAST SRP index (st122 —
    // the s56 incremental screen at the stream-static seam, filling
    // the streaming matrix's embedding-DEDUP gap: st69 only ingests).
    // STREAM-STATIC VERIFIED affine-frame screen (st124 — the m180
    // verdict mid-stream): arrivals' ANCHORED landmarks equi-join the
    // broadcast anchored index (stateless map-side join, no state
    // store); the RANSAC verification runs batch-side over the sink —
    // candidates at the LOW code gate, clouds from the sink's and the
    // index's own distinct anchors, no corpus re-decode. A GRAY-ZONE
    // compound (under the plain code gate — the class st123 is
    // structurally blind to) is flagged mid-stream; fresh arrivals
    // stay kept. Pinned golden.
    "st124_stream_affine_verified_screen" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, c0: Int, c1: Int, deg: Double,
            outW: Int): Array[Byte] =
          Multimodal.pngCropResize(Multimodal.pngRotateResize(
            Multimodal.pngCropResize(blobs(src), c0, c0, c1, c1,
              256, 256), deg), 0, 0, 256, 256, outW, 256)
        if (id == 20L) probe(3, 38, 218, -23.0, 197) // gray-zone
        else if (id == 22L) probe(6, 44, 212, 17.0, 183) // gray-zone
        else blobs(id)
      })
      val corpus = s.range(0, 8)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageAffineFrameAnchored())(corpus)
        .select(col("lm"), col("ax").as("axb"), col("ay").as("ayb"),
          col("doc_id").as("src"), col("nl").as("nl_src"))
      val staged = stageBatches("graft-stream-afvidx",
        payloads(s.createDataset(Seq(20L, 130L)), img),
        payloads(s.createDataset(Seq(22L, 131L)), img))
      val stream = mediaStream(s, staged)
      // the memory sink view self-joins three ways (counts, clouds,
      // candidates) — rename the key per derivative, the st121 idiom,
      // or Catalyst fails resolving the conflicting view references
      val sunk = drain(s, "append")(
        "st124_lm" -> Multimodal.ImageAffineFrameAnchored().landmarks(stream)
          .join(broadcast(index), Seq("lm"), "left"))
      // nl = DISTINCT landmarks: the sink rows are post-join, so a
      // probe landmark matching several index masters is duplicated —
      // count(1) would inflate nl and deflate c/least(nl, nl_src),
      // dropping true candidates (st123 and the batch verified screen
      // both count landmarks pre-join)
      val nl = sunk.groupBy(col("doc_id"))
        .agg(countDistinct(col("lm")).as("nl"))
      val cloudsProbe = sunk.select(col("doc_id").as("dp"), col("ax"),
          col("ay"))
        .distinct().groupBy(col("dp"))
        .agg(collect_list(struct(col("ax"), col("ay"))).as("cloud_a"))
      val cloudsSrc = index
        .select(col("src").as("sp"), col("axb").as("ax"),
          col("ayb").as("ay"))
        .distinct().groupBy(col("sp"))
        .agg(collect_list(struct(col("ax"), col("ay"))).as("cloud_b"))
      val cand = sunk.filter(col("src").isNotNull)
        .select(col("doc_id").as("d"), col("src"), col("nl_src"),
          col("lm"), col("ax"), col("ay"), col("axb"), col("ayb"))
        .groupBy(col("d"), col("src"), col("nl_src"))
        .agg(countDistinct(col("lm")).as("c"),
          collect_list(struct(col("ax"), col("ay"), col("axb"),
            col("ayb"))).as("corr"))
        .filter(col("c") >= 4)
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .filter(col("c").cast("double") / least(col("nl"), col("nl_src"))
          >= 0.004)
      val dup = cand
        .join(cloudsProbe, col("d") === cloudsProbe("dp"))
        .join(cloudsSrc, col("src") === cloudsSrc("sp"))
        .filter(Multimodal.affineCloudVerifier()(col("corr"),
          col("cloud_a"), col("cloud_b")) >= 0.5)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
        .select(col("d").as("doc_id"), col("dup_src"))
      s.createDataset(Seq(20L, 22L, 130L, 131L)).toDF("doc_id")
        .join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // STREAM-STATIC affine-frame index screen (st123 — the m174 tier
    // in the streaming matrix, at the st103/st121 broadcast seam): a
    // standing corpus' imageAffineFrameIndex BROADCASTS — no state
    // store — and every micro-batch of image arrivals computes its
    // affine-frame landmarks (a pure mapPartitions, streaming-safe)
    // and equi-joins them against it; a re-upload that was CROPPED,
    // tilted, AND anamorphically squeezed mid-stream is flagged with
    // no corpus re-decode, fresh arrivals stay kept. Scored at the
    // m174 gate (minMatch 0.02 AND >= 16 shared codes) batch-side
    // over the sink. Pinned golden.
    "st123_stream_affine_frame_screen" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, deg: Double, outW: Int): Array[Byte] =
          Multimodal.pngCropResize(Multimodal.pngRotateResize(
            Multimodal.pngCropResize(blobs(src), 32, 32, 224, 224,
              256, 256), deg), 0, 0, 256, 256, outW, 256)
        if (id == 20L) probe(0, 17.0, 183)
        else if (id == 22L) probe(2, -23.0, 197)
        else blobs(id)
      })
      val corpus = s.range(0, 4)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageAffineFrame())(corpus)
        .select(col("lm"), col("doc_id").as("src"), col("nl").as("nl_src"))
      val staged = stageBatches("graft-stream-afridx",
        payloads(s.createDataset(Seq(20L, 130L)), img),
        payloads(s.createDataset(Seq(22L, 131L)), img))
      val stream = mediaStream(s, staged)
      val sunk = drain(s, "append")(
        "st123_lm" -> Multimodal.ImageAffineFrame().landmarks(stream)
          .join(broadcast(index), Seq("lm"), "left"))
      val nl = sunk.groupBy(col("doc_id"))
        .agg(countDistinct(col("lm")).as("nl"))
      val dup = sunk.filter(col("src").isNotNull)
        .select(col("doc_id").as("d"), col("lm"), col("src"), col("nl_src"))
        .groupBy(col("d"), col("src"), col("nl_src"))
        .agg(countDistinct(col("lm")).as("c"))
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .filter(col("c") >= 16 &&
          col("c").cast("double") / least(col("nl"), col("nl_src")) >= 0.02)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
        .select(col("d").as("doc_id"), col("dup_src"))
      s.createDataset(Seq(20L, 22L, 130L, 131L)).toDF("doc_id")
        .join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // STREAM-STATIC CHIRAL affine-frame screen (st125 — the m181
    // mirror readout at the st123 broadcast seam): the standing
    // corpus' IDENTITY index broadcasts unchanged (the asymmetric fan
    // shape — masters never mirror), and every arrival emits its
    // identity codes PLUS their mirror repacks (one decode, then pure
    // Long arithmetic — streaming-safe), so a re-upload that was
    // MIRRORED and cropped and tilted and squeezed mid-stream is
    // flagged with no state store and no corpus re-decode. Scored
    // batch-side per readout at the m181 gate over the identity code
    // count. Pinned golden.
    "st125_stream_affine_chiral_screen" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, deg: Double, outW: Int): Array[Byte] =
          Multimodal.pngDihedral(
            Multimodal.pngCropResize(Multimodal.pngRotateResize(
              Multimodal.pngCropResize(blobs(src), 32, 32, 224, 224,
                256, 256), deg), 0, 0, 256, 256, outW, 256), 4)
        if (id == 20L) probe(0, 17.0, 183)
        else if (id == 22L) probe(2, -23.0, 197)
        else blobs(id)
      })
      val corpus = s.range(0, 4)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageAffineFrame())(corpus)
        .select(col("lm"), col("doc_id").as("src"), col("nl").as("nl_src"))
      val staged = stageBatches("graft-stream-chiridx",
        payloads(s.createDataset(Seq(20L, 130L)), img),
        payloads(s.createDataset(Seq(22L, 131L)), img))
      val stream = mediaStream(s, staged)
      val sunk = drain(s, "append")(
        "st125_lm" -> Multimodal.ImageAffineFrameChiral().landmarks(stream)
          .join(broadcast(index), Seq("lm"), "left"))
      val nl = sunk.filter(col("orient") === 0)
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("lm")).as("nl"))
      val dup = sunk.filter(col("src").isNotNull)
        .select(col("doc_id").as("d"), col("orient"), col("lm"),
          col("src"), col("nl_src"))
        .groupBy(col("d"), col("orient"), col("src"), col("nl_src"))
        .agg(countDistinct(col("lm")).as("c"))
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .filter(col("c") >= 16 &&
          col("c").cast("double") / least(col("nl"), col("nl_src")) >= 0.02)
        // aggregate the (src, orient) pair ATOMICALLY: a probe
        // matching several sources via different orients must report
        // the orient OF THE WINNING SOURCE, not an independent max —
        // min(struct) picks the lowest src, then its lowest orient
        .groupBy(col("d"))
        .agg(min(struct(col("src"), col("orient"))).as("w"))
        .select(col("d"), col("w.src").as("dup_src"),
          col("w.orient").as("via_orient"))
      s.createDataset(Seq(20L, 22L, 130L, 131L)).toDF("doc_id")
        .join(dup, col("doc_id") === dup("d"), "left").drop("d")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"), col("via_orient"))
        .orderBy(col("doc_id"))
    }),

    // STREAM-STATIC DE-SQUEEZE fan screen (st126 — the m184 fan at
    // the st123 broadcast seam): the standing corpus' IDENTITY index
    // broadcasts unchanged, and every arrival detects peaks ONCE then
    // emits each hypothesis factor's re-rendered frame codes (the fan
    // kernel is a pure mapPartitions — streaming-safe), so a crop x
    // rotation x EXTREME-squeeze re-upload arriving mid-stream is
    // flagged with no state store and no corpus re-decode; fresh
    // arrivals stay kept. Scored batch-side per readout at the m174
    // gate over the identity code count. Pinned golden.
    "st126_stream_affine_squeeze_fan_screen" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      implicit val sp: SparkSession = s
      val img = udf((id: Long) => {
        def blobs(seed: Long): Array[Byte] =
          Multimodal.syntheticPngBlobs(seed, 256, 256, 24, 22.0)
        def probe(src: Long, deg: Double, sq: Double,
            ax: Int): Array[Byte] = {
          val rot = Multimodal.pngRotateResize(Multimodal.pngCropResize(
            blobs(src), 32, 32, 224, 224, 256, 256), deg)
          if (ax == 0)
            Multimodal.pngCropResize(rot, 0, 0, 256, 256,
              math.round(256 / sq).toInt, 256)
          else
            Multimodal.pngCropResize(rot, 0, 0, 256, 256, 256,
              math.round(256 / sq).toInt)
        }
        if (id == 20L) probe(0, -23.0, 3.0, 0)
        else if (id == 22L) probe(2, 17.0, 3.5, 1)
        else blobs(id)
      })
      val corpus = s.range(0, 4)
        .select(col("id").as("doc_id"), img(col("id")).as("payload"))
      val index = Multimodal.index(ImageAffineFrame())(corpus)
        .select(col("lm"), col("doc_id").as("src"), col("nl").as("nl_src"))
      val staged = stageBatches("graft-stream-sqfanidx",
        payloads(s.createDataset(Seq(20L, 130L)), img),
        payloads(s.createDataset(Seq(22L, 131L)), img))
      val stream = mediaStream(s, staged)
      val sunk = drain(s, "append")(
        "st126_lm" -> Multimodal.ImageAffineFrameSqueezeFan().landmarks(stream)
          .join(broadcast(index), Seq("lm"), "left"))
      val nl = sunk.filter(col("orient") === 0)
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("lm")).as("nl"))
      val dup = sunk.filter(col("src").isNotNull)
        .select(col("doc_id").as("d"), col("orient"), col("lm"),
          col("src"), col("nl_src"))
        .groupBy(col("d"), col("orient"), col("src"), col("nl_src"))
        .agg(countDistinct(col("lm")).as("c"))
        .join(nl, col("d") === nl("doc_id")).drop("doc_id")
        .filter(col("c") >= 16 &&
          col("c").cast("double") / least(col("nl"), col("nl_src")) >= 0.02)
        // aggregate the (src, orient) pair ATOMICALLY: a probe
        // matching several sources via different orients must report
        // the orient OF THE WINNING SOURCE, not an independent max —
        // min(struct) picks the lowest src, then its lowest orient
        .groupBy(col("d"))
        .agg(min(struct(col("src"), col("orient"))).as("w"))
        .select(col("d"), col("w.src").as("dup_src"),
          col("w.orient").as("via_orient"))
      s.createDataset(Seq(20L, 22L, 130L, 131L)).toDF("doc_id")
        .join(dup, col("doc_id") === dup("d"), "left").drop("d")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"), col("via_orient"))
        .orderBy(col("doc_id"))
    }),

    // Arrivals hash with the index's planes (srpBucketIndex is a pure
    // projection, streaming-safe), equi-join the broadcast index on
    // (tbl, bucket) — no state store — and score exact cosine
    // batch-side over the sink. Batch 1 delivers 20 scaled (x1.25,
    // direction-preserving) re-uploads of corpus vectors, batch 2 ten
    // more plus ten NEGATED decoys (cosine -1 to their source). Full
    // SQL replay (the SRP planes are md5-derived).
    "st122_stream_embed_index_screen" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      implicit val sp: SparkSession = s
      val emb = t(s, dir, "embeddings")
      val bits = graft.operators.Similarity.deriveSrpBits(emb.count())
      val index = graft.operators.Similarity.srpBucketIndex(emb, 64, bits)
        .select(col("tbl"), col("bucket"), col("vec_id").as("src"),
          col("v").as("cv"), col("nrm").as("cn"))
      def scaled(df: DataFrame, off: Long): DataFrame =
        df.select(($"vec_id" + off).as("vec_id"),
          transform($"embedding",
            x => (x.cast("double") * 1.25).cast("float")).as("embedding"))
      def negated(df: DataFrame, off: Long): DataFrame =
        df.select(($"vec_id" + off).as("vec_id"),
          transform($"embedding",
            x => (-x.cast("double")).cast("float")).as("embedding"))
      val staged = stageBatches("graft-stream-embidx",
        scaled(emb.filter($"vec_id" < 20), 1000000L),
        scaled(emb.filter($"vec_id" >= 20 && $"vec_id" < 30), 1000000L)
            .unionByName(negated(
              emb.filter($"vec_id" >= 100 && $"vec_id" < 110), 2000000L)))
      val embSchema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      val stream = s.readStream.schema(embSchema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
        .repartition(col("vec_id"))
      val keyed = graft.operators.Similarity.srpBucketIndex(stream, 64, bits)
      val out = drain(s, "append")(
        "st122_out" -> keyed.join(broadcast(index), Seq("tbl", "bucket"), "left"))
      val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        aggregate(zip_with(a, b,
          (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x)
      val dup = out.filter(col("src").isNotNull)
        .select(col("vec_id").as("pid"), col("src"), col("v"),
          col("cv"), col("nrm"), col("cn"))
        .dropDuplicates("pid", "src")
        .filter(round(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6)
          >= 0.4)
        .groupBy(col("pid")).agg(min(col("src")).as("dup_src"))
      out.select(col("vec_id")).distinct()
        .join(dup, col("vec_id") === col("pid"), "left")
        .select(col("vec_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("vec_id"))
    }),

    // STREAMING subtitle decontamination — the m97 check as a
    // STREAM-STATIC equi-join, the Structured-Streaming-native
    // decontamination form: media payloads arrive in micro-batches
    // (batch a = 5 videos carrying docs 0-4 as cue tracks, batch b =
    // docs 5-9 plus 5 formula decoys), the EBML walk + reassembly runs
    // INSIDE the stream (mapPartitions on the streaming Dataset), and
    // each batch joins the static `documents` corpus — no state needed,
    // the static side is the membership set. Oracle = the documents
    // self-join replay over the 10 planted ids.
    "st76_stream_subtitle_decontam" -> ((s0, dir) => { val s = streamSession(s0)
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      val mkDoc = udf((id: Long, text: String) =>
        Multimodal.syntheticMkv(1000000L + id, 3,
          cueLines = text.grouped(40).toSeq))
      val mkDecoy = udf((id: Long) =>
        Multimodal.syntheticMkv(id, 3, subsId = id, subsCues = 8))
      val staged = stageBatches("graft-stream-subs",
        docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            mkDoc(col("doc_id"), col("text")).as("payload")),
        docs.filter(col("doc_id") >= 5 && col("doc_id") < 10)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            mkDoc(col("doc_id"), col("text")).as("payload"))
          .unionByName(s.range(2000000L, 2000005L)
            .select(col("id").as("doc_id"), mkDecoy(col("id")).as("payload"))))
      val stream = s.readStream.schema(mediaSchema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val subs = Multimodal.videoSubtitleTexts(stream)
        .select(col("doc_id").as("video_id"),
          regexp_replace(col("text"), "\n", "").as("probe"))
      val hits = subs.join(docs.select(col("doc_id"), col("text")),
          col("probe") === col("text"))
        .select(col("video_id"), col("doc_id"))
      drain(s, "append")("st76_out" -> hits).orderBy(col("video_id"), col("doc_id"))
    }),

    // SUBTITLE DECONTAMINATION against the REAL documents table — the
    // eval-leak-through-captions check: 5 videos carry a corpus
    // document as their subtitle track (text chunked into 40-char
    // cues — the mux artifact), 5 carry unrelated formula cues. The
    // pipeline must walk the EBML, extract and reassemble the cues,
    // and land the match against `documents` — one wrong byte anywhere
    // and the equality join misses. The oracle only replays the
    // documents-side self-join (which docs < 5 share text with which),
    // because reassembly-with-\n stripped is the identity on the
    // newline-free corpus.
    "m97_subtitle_decontam" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      val mkDoc = udf((id: Long, text: String) =>
        Multimodal.syntheticMkv(1000000L + id, 3,
          cueLines = text.grouped(40).toSeq))
      val mkDecoy = udf((id: Long) =>
        Multimodal.syntheticMkv(id, 3, subsId = id, subsCues = 8))
      val media = docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            mkDoc(col("doc_id"), col("text")).as("payload"))
        .unionByName(s.range(2000000L, 2000005L)
          .select(col("id").as("doc_id"), mkDecoy(col("id")).as("payload")))
      val subs = Multimodal.videoSubtitleTexts(media)
        .select(col("doc_id").as("video_id"),
          regexp_replace(col("text"), "\n", "").as("probe"))
      subs.join(docs.select(col("doc_id"), col("text")),
          col("probe") === col("text"))
        .select(col("video_id"), col("doc_id"))
        .orderBy(col("video_id"), col("doc_id"))
    }),

    // STYLED-caption decontamination (closes round-9 gap #3: only
    // S_TEXT/UTF8 reached the text tier, so an ASS/SSA-styled caption
    // leak was invisible): the m97 scenario re-muxed as "S_TEXT/ASS" —
    // each cue carries the 8 Matroska dialogue metadata fields plus
    // inline override tags and a \N break around the document chunk
    // ({\an8}…\N{\i1}…{\i0}). The walk must shed fields + styling
    // (assStrip) before the text bridge; \N becomes \n, which the
    // reassembly strips like the cue joins — so the EXACT equality
    // join against `documents` lands iff stripping is byte-perfect.
    // Same output relation as m97, so the oracle replays it verbatim.
    "m108_subtitle_styled_decontam" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
      val mkDoc = udf((id: Long, text: String) =>
        Multimodal.syntheticMkv(1000000L + id, 3,
          cueLines = text.grouped(40).toSeq.map { ch =>
            val k = math.min(20, ch.length)
            "{\\an8}" + ch.substring(0, k) + "\\N{\\i1}" +
              ch.substring(k) + "{\\i0}"
          }, subsAss = true))
      val mkDecoy = udf((id: Long) =>
        Multimodal.syntheticMkv(id, 3, subsId = id, subsCues = 8,
          subsAss = true))
      val media = docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            mkDoc(col("doc_id"), col("text")).as("payload"))
        .unionByName(s.range(2000000L, 2000005L)
          .select(col("id").as("doc_id"), mkDecoy(col("id")).as("payload")))
      val subs = Multimodal.videoSubtitleTexts(media)
        .select(col("doc_id").as("video_id"),
          regexp_replace(col("text"), "\n", "").as("probe"))
      subs.join(docs.select(col("doc_id"), col("text")),
          col("probe") === col("text"))
        .select(col("video_id"), col("doc_id"))
        .orderBy(col("video_id"), col("doc_id"))
    }),

    // NEAR-DUP subtitle decontamination — the edited-caption leak m97's
    // exact match cannot see: 5 videos carry a document's text PLUS a
    // 5-word edit tail as word-grouped cues (6 words per cue, so
    // space-rejoin reconstructs the edited text exactly), 5 carry
    // formula decoys. The extracted captions probe the corpus through
    // the t66 MinHash-LSH machinery (corpus bands x broadcast probe
    // bands, candidate-scoped shingle verify) and must land above 0.5
    // jaccard on their source docs; decoys must not. Oracle = the t66
    // replay with the probe CTE applying the same edit in SQL.
    "m98_subtitle_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val docs = t(s, dir, "documents")
      val mkDoc = udf((id: Long, text: String) =>
        Multimodal.syntheticMkv(1000000L + id, 3,
          cueLines = (text + " zz1 zz2 zz3 zz4 zz5").split(" ")
            .grouped(6).map(_.mkString(" ")).toSeq))
      val mkDecoy = udf((id: Long) =>
        Multimodal.syntheticMkv(id, 3, subsId = id, subsCues = 8))
      val media = docs.filter($"doc_id" < 5)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            mkDoc($"doc_id", $"text").as("payload"))
        .unionByName(s.range(2000000L, 2000005L)
          .select($"id".as("doc_id"), mkDecoy($"id").as("payload")))
      val probes = Multimodal.videoSubtitleTexts(media)
        .select($"doc_id".as("probe_id"),
          regexp_replace($"text", "\n", " ").as("text"))
      graft.operators.TextDedup.crossNearDupPairs(
          docs, "doc_id", "text", probes, "probe_id", "text", 0.5)
        .orderBy($"doc_id", $"probe_id")
    }),

    // Incremental AUDIO dedup vs a persisted fingerprint index (the
    // t69/s56/m85 contract, audio-side): index 20 textured WAVs once,
    // screen 20 re-leveled re-uploads against it — integer arithmetic
    // end to end, so the oracle is the m79/st73 replay with the probe
    // id space.
    "m86_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val wav = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticWavTex(id, (160 + (id % 13) * 16).toInt)
        else Multimodal.syntheticWavTex(id - 1000000L,
          (160 + ((id - 1000000L) % 13) * 16).toInt, num = 9, den = 10))
      val index = Multimodal.index(AudioCode)(s.range(0, 20)
        .select(col("id").as("doc_id"), wav(col("id")).as("payload")))
      val probes = s.range(1000000L, 1000020L)
        .select(col("id").as("doc_id"), wav(col("id")).as("payload"))
      Multimodal.screen(AudioCode)(probes, index)
        .orderBy(col("doc_id"))
    }),

    // Incremental IMAGE dedup vs a persisted pHash chunk index (the
    // t69/s56 contract, image-side): index 20 corpus PNGs once, screen
    // an ingest batch of 20 lightly-edited re-uploads — most land on
    // their source within hamming 3; a few variants drift past the
    // threshold and are kept (the pinned golden keeps 1000003, 1000008,
    // 1000010). Pinned golden (codec + StrictMath DCT path).
    "m85_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val corpusPng = udf((id: Long) => Multimodal.syntheticPng(id))
      val probePng = udf((id: Long) => Multimodal.syntheticPngVariant(id - 1000000L))
      val index = Multimodal.pHashChunkIndex(
        s.range(0, 20).select(col("id").as("doc_id"),
          corpusPng(col("id")).as("payload")))
      val probes = s.range(1000000L, 1000020L)
        .select(col("id").as("doc_id"), probePng(col("id")).as("payload"))
      Multimodal.screen(PHash)(probes, index, maxDf = 64)
        .orderBy(col("doc_id"))
    }),

    // Streaming audio dedup under TIME SHIFT: batch 1 delivers 14
    // textured WAVs, batch 2 their leading-TRIMMED re-uploads (first
    // 128 samples = 2 hops cut) under new ids — st73's aligned state
    // sees nothing, landmark-bucket state catches every one. Oracle =
    // the m80 landmark replay + the dedup decision.
    "st74_stream_audio_landmark_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val wav = udf((id: Long) =>
        if (id < 1000000L)
          Multimodal.syntheticWavTex(id, (320 + (id % 8) * 64).toInt)
        else Multimodal.syntheticWavTexTrim(id - 1000000L,
          (320 + ((id - 1000000L) % 8) * 64 - 128).toInt, skip = 128))
      val staged = stageBatches("graft-stream-lm",
        payloads(s.range(0, 14), wav),
        payloads(s.range(1000000L, 1000014L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioLandmark())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st74_out" -> hits), Share(0.6))
    }),

    // Streaming VIDEO dedup under TIME SHIFT: batch 1 delivers 10 base
    // AVIs, batch 2 their leading-2-frame-CUT re-uploads under new ids
    // — landmark-bucket state catches what aligned matching can't see
    // in any tier. Pinned golden (pHash path).
    "st75_stream_video_landmark_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val avi = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticAvi(id, (6 + id % 3).toInt)
        else Multimodal.syntheticAvi(id - 1000000L,
          (6 + (id - 1000000L) % 3).toInt - 2, frameOffset = 2))
      val staged = stageBatches("graft-stream-vlm",
        payloads(s.range(0, 10), avi),
        payloads(s.range(1000000L, 1000010L), avi))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoShift())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st75_out" -> hits), Share(0.6))
    }),

    // VIDEO MJPEG path: same frame pixels as m81 but each frame goes
    // through the JDK JPEG encoder into a '00dc' chunk and back out of
    // the container via the JPEG pass-through — the lossy-codec leg of
    // the AVI walk. Pinned golden (same-JVM codec determinism, the
    // st72/m78 precedent).
    "m83_video_mjpeg" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        Multimodal.syntheticAvi(id, (4 + id % 3).toInt, mjpeg = true))
      val media = s.range(0, 8)
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.videoFramePHash(media, every = 2).toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // VIDEO near-dup pairs: 10 base AVIs + 10 brightness-bumped
    // re-uploads (+12 luma on every pixel, clamped — AC coefficients
    // shift only where clamping bites, so per-frame pHash moves 0-2
    // bits); sampled frames agree within hamming 3 at the same index,
    // aligned agreement >= 0.8 over the smaller sample. Pinned golden
    // gate.
    "m82_video_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = udf((id: Long) =>
        if (id < 20) Multimodal.syntheticAvi(id, (4 + id % 3).toInt)
        else Multimodal.syntheticAvi(id - 20, (4 + (id - 20) % 3).toInt,
          delta = 12, global0 = true))
      val media = s.range(0, 10).union(s.range(20, 30))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.pairs(VideoFrames())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Streaming IMAGE near-dup dedup (the pixel tier of st68's ladder):
    // micro-batch 1 delivers 20 base PNGs, micro-batch 2 their
    // lightly-EDITED re-uploads under new ids — exact dedup can't
    // catch them, pHash chunk-bucket state does. Codec + StrictMath
    // DCT path — pinned golden gate.
    "st72_stream_phash_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val png = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticPng(id)
        else Multimodal.syntheticPngVariant(id - 1000000L))
      val staged = stageBatches("graft-stream-phash",
        payloads(s.range(0, 20), png),
        payloads(s.range(1000000L, 1000020L), png))
      val stream = mediaStream(s, staged)
      val verdicts = StreamingNearDup.verdicts(PHash)(stream, maxBucket = 64)
      drain(s, "append")("st72_out" -> verdicts)
        .groupBy(col("doc_id"))
        .agg(min(col("dup_src")).as("dup_src"))
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    }),

    // Streaming AUDIO near-dup dedup (the audio tier, completing the
    // st68/st72 ladder): micro-batch 1 delivers 20 textured WAVs,
    // micro-batch 2 their RE-LEVELED re-uploads (floor-scaled x0.9 —
    // different bytes, same autocorrelation signs) under new ids.
    // (frame_idx, code) bucket state emits earlier sharers per frame;
    // the batch query over the sink scores aligned agreement >= 0.8
    // over the smaller fingerprint — the m79 metric, so the oracle is
    // the same integer SQL replay with a dedup decision on top.
    "st73_stream_audio_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val wav = udf((id: Long) =>
        if (id < 1000000L) Multimodal.syntheticWavTex(id, (160 + (id % 13) * 16).toInt)
        else Multimodal.syntheticWavTex(id - 1000000L,
          (160 + ((id - 1000000L) % 13) * 16).toInt, num = 9, den = 10))
      val staged = stageBatches("graft-stream-audio",
        payloads(s.range(0, 20), wav),
        payloads(s.range(1000000L, 1000020L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioCode)(stream, maxBucket = 64)
      val out = drain(s, "append")("st73_out" -> hits)
      // all branches re-alias their key before any join: the memory
      // sink's view resolves to the SAME attribute ids on every
      // s.table() call, and a raw self-join fails analysis
      val nf = out.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nf"))
      val nfSrc = out.select(col("doc_id").as("src_id"))
        .groupBy(col("src_id")).agg(count(lit(1)).as("nf_src"))
      val dup = out
        .select(col("doc_id").as("d"), explode(col("hits")).as("src"))
        .groupBy(col("d"), col("src")).agg(count(lit(1)).as("c"))
        .join(nf, col("d") === nf("doc_id")).drop("doc_id")
        .join(nfSrc, col("src") === col("src_id"))
        .filter(col("c").cast("double") / least(col("nf"), col("nf_src"))
          >= 0.8)
        .groupBy(col("d")).agg(min(col("src")).as("dup_src"))
      nf.join(dup, col("doc_id") === col("d"), "left")
        .select(col("doc_id"), col("dup_src").isNull.as("kept"),
          col("dup_src"))
        .orderBy(col("doc_id"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    // regenerates the textured PCM streams (pure integer functions,
    // variant = floor-scaled x0.9) and replays the whole fingerprint:
    // per-frame autocorrelations at lags 2^0..2^6 as plain integer
    // SUMs (order-free — no float fold to pin), 13-bit codes, aligned
    // code-agreement fraction
    "m79_audio_fingerprint" ->
      """WITH ids AS (SELECT unnest(range(0, 40)) AS doc_id),
        base AS (SELECT doc_id,
            CASE WHEN doc_id < 20 THEN doc_id ELSE doc_id - 20 END AS bid
          FROM ids),
        lens AS (SELECT doc_id, bid, 160 + (bid % 13) * 16 AS n FROM base),
        samples AS (SELECT doc_id, i,
            CASE WHEN doc_id < 20 THEN s
              ELSE CAST(floor(CAST(s * 9 AS DOUBLE) / 10) AS BIGINT) END AS v
          FROM (SELECT doc_id, u.i,
              ((bid * 40503 + 12289) * (u.i + 7) * (u.i + 13)) % 65536
                - 32768 AS s
            FROM lens, LATERAL (SELECT unnest(range(0, n)) AS i) u(i))),
        frames AS (SELECT doc_id, u.f FROM lens,
          LATERAL (SELECT unnest(range(0, (n - 128) // 64 + 1)) AS f) u(f)
          WHERE n >= 128),
        lags AS (SELECT * FROM (VALUES (0,1),(1,2),(2,4),(3,8),(4,16),
          (5,32),(6,64)) l(j, lg)),
        rr AS (SELECT fr.doc_id, fr.f, lags.j, SUM(a.v * b.v) AS r
          FROM frames fr, lags
          JOIN samples a ON TRUE
          JOIN samples b ON b.doc_id = a.doc_id AND b.i = a.i + lags.lg
          WHERE a.doc_id = fr.doc_id
            AND a.i >= fr.f * 64 AND a.i < fr.f * 64 + 128 - lags.lg
          GROUP BY fr.doc_id, fr.f, lags.j),
        sbits AS (SELECT doc_id, f,
            SUM(CASE WHEN r > 0 THEN 1 << j ELSE 0 END) AS s_code
          FROM rr GROUP BY doc_id, f),
        cbits AS (SELECT x.doc_id, x.f,
            SUM(CASE WHEN x.r > y.r THEN 1 << (7 + x.j) ELSE 0 END) AS c_code
          FROM rr x JOIN rr y ON y.doc_id = x.doc_id AND y.f = x.f
            AND y.j = x.j + 1
          GROUP BY x.doc_id, x.f),
        codes AS (SELECT s.doc_id, s.f, s.s_code + COALESCE(c.c_code, 0) AS code
          FROM sbits s LEFT JOIN cbits c
            ON c.doc_id = s.doc_id AND c.f = s.f),
        sizes AS (SELECT doc_id, COUNT(*) AS nf FROM codes GROUP BY doc_id),
        m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM codes a JOIN codes b ON a.f = b.f AND a.code = b.code
            AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b,
          round(CAST(c AS DOUBLE) / least(sa.nf, sb.nf), 6) AS match_frac
        FROM m JOIN sizes sa ON sa.doc_id = m.doc_a
          JOIN sizes sb ON sb.doc_id = m.doc_b
        WHERE round(CAST(c AS DOUBLE) / least(sa.nf, sb.nf), 6) >= 0.8
        ORDER BY doc_a, doc_b""",
    // m79's code replay over the trimmed-stream corpus, then landmarks:
    // (code, LEAD(code)) pairs packed positionless, DISTINCT per doc,
    // shared-landmark fraction over the smaller set
    // the m80 landmark replay over the EXTRACTED audio: samples
    // regenerate from audio id = doc_id % 4 (what the AVI embeds), so
    // the whole extract-then-fingerprint path is arithmetic-gated
    "m88_video_audio_dedup" ->
      """WITH ids AS (SELECT unnest(range(0, 8)) AS doc_id),
        lens AS (SELECT doc_id, doc_id % 4 AS bid,
            320 + (doc_id % 4) * 64 AS n FROM ids),
        samples AS (SELECT doc_id, u.i,
            ((bid * 40503 + 12289) * (u.i + 7) * (u.i + 13))
              % 65536 - 32768 AS v
          FROM lens, LATERAL (SELECT unnest(range(0, n)) AS i) u(i)),
        frames AS (SELECT doc_id, u.f FROM lens,
          LATERAL (SELECT unnest(range(0, (n - 128) // 64 + 1)) AS f) u(f)
          WHERE n >= 128),
        lags AS (SELECT * FROM (VALUES (0,1),(1,2),(2,4),(3,8),(4,16),
          (5,32),(6,64)) l(j, lg)),
        rr AS (SELECT fr.doc_id, fr.f, lags.j, SUM(a.v * b.v) AS r
          FROM frames fr, lags
          JOIN samples a ON TRUE
          JOIN samples b ON b.doc_id = a.doc_id AND b.i = a.i + lags.lg
          WHERE a.doc_id = fr.doc_id
            AND a.i >= fr.f * 64 AND a.i < fr.f * 64 + 128 - lags.lg
          GROUP BY fr.doc_id, fr.f, lags.j),
        sbits AS (SELECT doc_id, f,
            SUM(CASE WHEN r > 0 THEN 1 << j ELSE 0 END) AS s_code
          FROM rr GROUP BY doc_id, f),
        cbits AS (SELECT x.doc_id, x.f,
            SUM(CASE WHEN x.r > y.r THEN 1 << (7 + x.j) ELSE 0 END) AS c_code
          FROM rr x JOIN rr y ON y.doc_id = x.doc_id AND y.f = x.f
            AND y.j = x.j + 1
          GROUP BY x.doc_id, x.f),
        codes AS (SELECT s.doc_id, s.f, s.s_code + COALESCE(c.c_code, 0) AS code
          FROM sbits s LEFT JOIN cbits c
            ON c.doc_id = s.doc_id AND c.f = s.f),
        lmraw AS (SELECT doc_id, code,
            LEAD(code) OVER (PARTITION BY doc_id ORDER BY f) AS nxt
          FROM codes),
        lms AS (SELECT DISTINCT doc_id, code * 8192 + nxt AS lm
          FROM lmraw WHERE nxt IS NOT NULL),
        sizes AS (SELECT doc_id, COUNT(*) AS nl FROM lms GROUP BY doc_id),
        m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM lms a JOIN lms b ON a.lm = b.lm AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b,
          round(CAST(c AS DOUBLE) / least(sa.nl, sb.nl), 6) AS match_frac
        FROM m JOIN sizes sa ON sa.doc_id = m.doc_a
          JOIN sizes sb ON sb.doc_id = m.doc_b
        WHERE round(CAST(c AS DOUBLE) / least(sa.nl, sb.nl), 6) >= 0.6
        ORDER BY doc_a, doc_b""",
    // the m88 replay at the MP4 id space: audio id = doc_id % 5 over 10
    // docs — extraction container changed, the landmark arithmetic not
    "m91_mp4_audio_dedup" ->
      """WITH ids AS (SELECT unnest(range(0, 10)) AS doc_id),
        lens AS (SELECT doc_id, doc_id % 5 AS bid,
            320 + (doc_id % 5) * 64 AS n FROM ids),
        samples AS (SELECT doc_id, u.i,
            ((bid * 40503 + 12289) * (u.i + 7) * (u.i + 13))
              % 65536 - 32768 AS v
          FROM lens, LATERAL (SELECT unnest(range(0, n)) AS i) u(i)),
        frames AS (SELECT doc_id, u.f FROM lens,
          LATERAL (SELECT unnest(range(0, (n - 128) // 64 + 1)) AS f) u(f)
          WHERE n >= 128),
        lags AS (SELECT * FROM (VALUES (0,1),(1,2),(2,4),(3,8),(4,16),
          (5,32),(6,64)) l(j, lg)),
        rr AS (SELECT fr.doc_id, fr.f, lags.j, SUM(a.v * b.v) AS r
          FROM frames fr, lags
          JOIN samples a ON TRUE
          JOIN samples b ON b.doc_id = a.doc_id AND b.i = a.i + lags.lg
          WHERE a.doc_id = fr.doc_id
            AND a.i >= fr.f * 64 AND a.i < fr.f * 64 + 128 - lags.lg
          GROUP BY fr.doc_id, fr.f, lags.j),
        sbits AS (SELECT doc_id, f,
            SUM(CASE WHEN r > 0 THEN 1 << j ELSE 0 END) AS s_code
          FROM rr GROUP BY doc_id, f),
        cbits AS (SELECT x.doc_id, x.f,
            SUM(CASE WHEN x.r > y.r THEN 1 << (7 + x.j) ELSE 0 END) AS c_code
          FROM rr x JOIN rr y ON y.doc_id = x.doc_id AND y.f = x.f
            AND y.j = x.j + 1
          GROUP BY x.doc_id, x.f),
        codes AS (SELECT s.doc_id, s.f, s.s_code + COALESCE(c.c_code, 0) AS code
          FROM sbits s LEFT JOIN cbits c
            ON c.doc_id = s.doc_id AND c.f = s.f),
        lmraw AS (SELECT doc_id, code,
            LEAD(code) OVER (PARTITION BY doc_id ORDER BY f) AS nxt
          FROM codes),
        lms AS (SELECT DISTINCT doc_id, code * 8192 + nxt AS lm
          FROM lmraw WHERE nxt IS NOT NULL),
        sizes AS (SELECT doc_id, COUNT(*) AS nl FROM lms GROUP BY doc_id),
        m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM lms a JOIN lms b ON a.lm = b.lm AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b,
          round(CAST(c AS DOUBLE) / least(sa.nl, sb.nl), 6) AS match_frac
        FROM m JOIN sizes sa ON sa.doc_id = m.doc_a
          JOIN sizes sb ON sb.doc_id = m.doc_b
        WHERE round(CAST(c AS DOUBLE) / least(sa.nl, sb.nl), 6) >= 0.6
        ORDER BY doc_a, doc_b""",
    "m80_audio_landmarks" ->
      """WITH ids AS (SELECT unnest(range(0, 14)) AS doc_id
          UNION ALL SELECT unnest(range(20, 34)) AS doc_id),
        base AS (SELECT doc_id,
            CASE WHEN doc_id < 20 THEN doc_id ELSE doc_id - 20 END AS bid,
            CASE WHEN doc_id < 20 THEN 0 ELSE 128 END AS skip
          FROM ids),
        lens AS (SELECT doc_id, bid, skip,
            320 + (bid % 8) * 64 - skip AS n FROM base),
        samples AS (SELECT doc_id, u.i,
            ((bid * 40503 + 12289) * (u.i + skip + 7) * (u.i + skip + 13))
              % 65536 - 32768 AS v
          FROM lens, LATERAL (SELECT unnest(range(0, n)) AS i) u(i)),
        frames AS (SELECT doc_id, u.f FROM lens,
          LATERAL (SELECT unnest(range(0, (n - 128) // 64 + 1)) AS f) u(f)
          WHERE n >= 128),
        lags AS (SELECT * FROM (VALUES (0,1),(1,2),(2,4),(3,8),(4,16),
          (5,32),(6,64)) l(j, lg)),
        rr AS (SELECT fr.doc_id, fr.f, lags.j, SUM(a.v * b.v) AS r
          FROM frames fr, lags
          JOIN samples a ON TRUE
          JOIN samples b ON b.doc_id = a.doc_id AND b.i = a.i + lags.lg
          WHERE a.doc_id = fr.doc_id
            AND a.i >= fr.f * 64 AND a.i < fr.f * 64 + 128 - lags.lg
          GROUP BY fr.doc_id, fr.f, lags.j),
        sbits AS (SELECT doc_id, f,
            SUM(CASE WHEN r > 0 THEN 1 << j ELSE 0 END) AS s_code
          FROM rr GROUP BY doc_id, f),
        cbits AS (SELECT x.doc_id, x.f,
            SUM(CASE WHEN x.r > y.r THEN 1 << (7 + x.j) ELSE 0 END) AS c_code
          FROM rr x JOIN rr y ON y.doc_id = x.doc_id AND y.f = x.f
            AND y.j = x.j + 1
          GROUP BY x.doc_id, x.f),
        codes AS (SELECT s.doc_id, s.f, s.s_code + COALESCE(c.c_code, 0) AS code
          FROM sbits s LEFT JOIN cbits c
            ON c.doc_id = s.doc_id AND c.f = s.f),
        lmraw AS (SELECT doc_id, code,
            LEAD(code) OVER (PARTITION BY doc_id ORDER BY f) AS nxt
          FROM codes),
        lms AS (SELECT DISTINCT doc_id, code * 8192 + nxt AS lm
          FROM lmraw WHERE nxt IS NOT NULL),
        sizes AS (SELECT doc_id, COUNT(*) AS nl FROM lms GROUP BY doc_id),
        m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM lms a JOIN lms b ON a.lm = b.lm AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b,
          round(CAST(c AS DOUBLE) / least(sa.nl, sb.nl), 6) AS match_frac
        FROM m JOIN sizes sa ON sa.doc_id = m.doc_a
          JOIN sizes sb ON sb.doc_id = m.doc_b
        WHERE round(CAST(c AS DOUBLE) / least(sa.nl, sb.nl), 6) >= 0.6
        ORDER BY doc_a, doc_b""",
    // the m79/st73 code replay with corpus ids 0..19 and probe ids
    // 1000000..1000019 (re-leveled x0.9), dup rule: probe vs CORPUS
    // only, aligned agreement >= 0.8 over the smaller fingerprint
    "m86_index_dedup" ->
      """WITH ids AS (SELECT unnest(range(0, 20)) AS doc_id
          UNION ALL SELECT unnest(range(1000000, 1000020)) AS doc_id),
        base AS (SELECT doc_id,
            CASE WHEN doc_id < 1000000 THEN doc_id
              ELSE doc_id - 1000000 END AS bid
          FROM ids),
        lens AS (SELECT doc_id, bid, 160 + (bid % 13) * 16 AS n FROM base),
        samples AS (SELECT doc_id, i,
            CASE WHEN doc_id < 1000000 THEN s
              ELSE CAST(floor(CAST(s * 9 AS DOUBLE) / 10) AS BIGINT) END AS v
          FROM (SELECT doc_id, u.i,
              ((bid * 40503 + 12289) * (u.i + 7) * (u.i + 13)) % 65536
                - 32768 AS s
            FROM lens, LATERAL (SELECT unnest(range(0, n)) AS i) u(i))),
        frames AS (SELECT doc_id, u.f FROM lens,
          LATERAL (SELECT unnest(range(0, (n - 128) // 64 + 1)) AS f) u(f)
          WHERE n >= 128),
        lags AS (SELECT * FROM (VALUES (0,1),(1,2),(2,4),(3,8),(4,16),
          (5,32),(6,64)) l(j, lg)),
        rr AS (SELECT fr.doc_id, fr.f, lags.j, SUM(a.v * b.v) AS r
          FROM frames fr, lags
          JOIN samples a ON TRUE
          JOIN samples b ON b.doc_id = a.doc_id AND b.i = a.i + lags.lg
          WHERE a.doc_id = fr.doc_id
            AND a.i >= fr.f * 64 AND a.i < fr.f * 64 + 128 - lags.lg
          GROUP BY fr.doc_id, fr.f, lags.j),
        sbits AS (SELECT doc_id, f,
            SUM(CASE WHEN r > 0 THEN 1 << j ELSE 0 END) AS s_code
          FROM rr GROUP BY doc_id, f),
        cbits AS (SELECT x.doc_id, x.f,
            SUM(CASE WHEN x.r > y.r THEN 1 << (7 + x.j) ELSE 0 END) AS c_code
          FROM rr x JOIN rr y ON y.doc_id = x.doc_id AND y.f = x.f
            AND y.j = x.j + 1
          GROUP BY x.doc_id, x.f),
        codes AS (SELECT s.doc_id, s.f, s.s_code + COALESCE(c.c_code, 0) AS code
          FROM sbits s LEFT JOIN cbits c
            ON c.doc_id = s.doc_id AND c.f = s.f),
        sizes AS (SELECT doc_id, COUNT(*) AS nf FROM codes GROUP BY doc_id),
        m AS (SELECT p.doc_id AS doc_id, c.doc_id AS src, COUNT(*) AS c
          FROM codes p JOIN codes c ON p.f = c.f AND p.code = c.code
            AND p.doc_id >= 1000000 AND c.doc_id < 1000000
          GROUP BY p.doc_id, c.doc_id),
        dup AS (SELECT m.doc_id, MIN(src) AS dup_src
          FROM m JOIN sizes na ON na.doc_id = m.src
            JOIN sizes nb ON nb.doc_id = m.doc_id
          WHERE CAST(c AS DOUBLE) / least(na.nf, nb.nf) >= 0.8
          GROUP BY m.doc_id)
        SELECT s.doc_id, d.dup_src IS NULL AS kept, d.dup_src
        FROM sizes s LEFT JOIN dup d ON d.doc_id = s.doc_id
        WHERE s.doc_id >= 1000000
        ORDER BY s.doc_id""",
    // m80's landmark replay over the two-delivery corpus (base ids
    // 0..13, leading-trimmed re-uploads 1000000..1000013), then the
    // dedup decision: dup_src = lowest earlier doc sharing >= 0.6 of
    // the smaller distinct-landmark set
    "st74_stream_audio_landmark_dedup" ->
      """WITH ids AS (SELECT unnest(range(0, 14)) AS doc_id
          UNION ALL SELECT unnest(range(1000000, 1000014)) AS doc_id),
        base AS (SELECT doc_id,
            CASE WHEN doc_id < 1000000 THEN doc_id
              ELSE doc_id - 1000000 END AS bid,
            CASE WHEN doc_id < 1000000 THEN 0 ELSE 128 END AS skip
          FROM ids),
        lens AS (SELECT doc_id, bid, skip,
            320 + (bid % 8) * 64 - skip AS n FROM base),
        samples AS (SELECT doc_id, u.i,
            ((bid * 40503 + 12289) * (u.i + skip + 7) * (u.i + skip + 13))
              % 65536 - 32768 AS v
          FROM lens, LATERAL (SELECT unnest(range(0, n)) AS i) u(i)),
        frames AS (SELECT doc_id, u.f FROM lens,
          LATERAL (SELECT unnest(range(0, (n - 128) // 64 + 1)) AS f) u(f)
          WHERE n >= 128),
        lags AS (SELECT * FROM (VALUES (0,1),(1,2),(2,4),(3,8),(4,16),
          (5,32),(6,64)) l(j, lg)),
        rr AS (SELECT fr.doc_id, fr.f, lags.j, SUM(a.v * b.v) AS r
          FROM frames fr, lags
          JOIN samples a ON TRUE
          JOIN samples b ON b.doc_id = a.doc_id AND b.i = a.i + lags.lg
          WHERE a.doc_id = fr.doc_id
            AND a.i >= fr.f * 64 AND a.i < fr.f * 64 + 128 - lags.lg
          GROUP BY fr.doc_id, fr.f, lags.j),
        sbits AS (SELECT doc_id, f,
            SUM(CASE WHEN r > 0 THEN 1 << j ELSE 0 END) AS s_code
          FROM rr GROUP BY doc_id, f),
        cbits AS (SELECT x.doc_id, x.f,
            SUM(CASE WHEN x.r > y.r THEN 1 << (7 + x.j) ELSE 0 END) AS c_code
          FROM rr x JOIN rr y ON y.doc_id = x.doc_id AND y.f = x.f
            AND y.j = x.j + 1
          GROUP BY x.doc_id, x.f),
        codes AS (SELECT s.doc_id, s.f, s.s_code + COALESCE(c.c_code, 0) AS code
          FROM sbits s LEFT JOIN cbits c
            ON c.doc_id = s.doc_id AND c.f = s.f),
        lmraw AS (SELECT doc_id, code,
            LEAD(code) OVER (PARTITION BY doc_id ORDER BY f) AS nxt
          FROM codes),
        lms AS (SELECT DISTINCT doc_id, code * 8192 + nxt AS lm
          FROM lmraw WHERE nxt IS NOT NULL),
        sizes AS (SELECT doc_id, COUNT(*) AS nl FROM lms GROUP BY doc_id),
        m AS (SELECT b.doc_id AS doc_id, a.doc_id AS src, COUNT(*) AS c
          FROM lms a JOIN lms b ON a.lm = b.lm AND a.doc_id < b.doc_id
          GROUP BY b.doc_id, a.doc_id),
        dup AS (SELECT m.doc_id, MIN(src) AS dup_src
          FROM m JOIN sizes na ON na.doc_id = m.src
            JOIN sizes nb ON nb.doc_id = m.doc_id
          WHERE CAST(c AS DOUBLE) / least(na.nl, nb.nl) >= 0.6
          GROUP BY m.doc_id)
        SELECT s.doc_id, d.dup_src IS NULL AS kept, d.dup_src
        FROM sizes s LEFT JOIN dup d ON d.doc_id = s.doc_id
        ORDER BY s.doc_id""",
    // m79's integer code replay over the two-delivery corpus (base ids
    // 0..19, re-leveled re-uploads 1000000..1000019), then the dedup
    // decision the streaming state computes: dup_src = lowest earlier
    // doc with aligned agreement >= 0.8 over the smaller fingerprint
    "st73_stream_audio_dedup" ->
      """WITH ids AS (SELECT unnest(range(0, 20)) AS doc_id
          UNION ALL SELECT unnest(range(1000000, 1000020)) AS doc_id),
        base AS (SELECT doc_id,
            CASE WHEN doc_id < 1000000 THEN doc_id
              ELSE doc_id - 1000000 END AS bid
          FROM ids),
        lens AS (SELECT doc_id, bid, 160 + (bid % 13) * 16 AS n FROM base),
        samples AS (SELECT doc_id, i,
            CASE WHEN doc_id < 1000000 THEN s
              ELSE CAST(floor(CAST(s * 9 AS DOUBLE) / 10) AS BIGINT) END AS v
          FROM (SELECT doc_id, u.i,
              ((bid * 40503 + 12289) * (u.i + 7) * (u.i + 13)) % 65536
                - 32768 AS s
            FROM lens, LATERAL (SELECT unnest(range(0, n)) AS i) u(i))),
        frames AS (SELECT doc_id, u.f FROM lens,
          LATERAL (SELECT unnest(range(0, (n - 128) // 64 + 1)) AS f) u(f)
          WHERE n >= 128),
        lags AS (SELECT * FROM (VALUES (0,1),(1,2),(2,4),(3,8),(4,16),
          (5,32),(6,64)) l(j, lg)),
        rr AS (SELECT fr.doc_id, fr.f, lags.j, SUM(a.v * b.v) AS r
          FROM frames fr, lags
          JOIN samples a ON TRUE
          JOIN samples b ON b.doc_id = a.doc_id AND b.i = a.i + lags.lg
          WHERE a.doc_id = fr.doc_id
            AND a.i >= fr.f * 64 AND a.i < fr.f * 64 + 128 - lags.lg
          GROUP BY fr.doc_id, fr.f, lags.j),
        sbits AS (SELECT doc_id, f,
            SUM(CASE WHEN r > 0 THEN 1 << j ELSE 0 END) AS s_code
          FROM rr GROUP BY doc_id, f),
        cbits AS (SELECT x.doc_id, x.f,
            SUM(CASE WHEN x.r > y.r THEN 1 << (7 + x.j) ELSE 0 END) AS c_code
          FROM rr x JOIN rr y ON y.doc_id = x.doc_id AND y.f = x.f
            AND y.j = x.j + 1
          GROUP BY x.doc_id, x.f),
        codes AS (SELECT s.doc_id, s.f, s.s_code + COALESCE(c.c_code, 0) AS code
          FROM sbits s LEFT JOIN cbits c
            ON c.doc_id = s.doc_id AND c.f = s.f),
        sizes AS (SELECT doc_id, COUNT(*) AS nf FROM codes GROUP BY doc_id),
        m AS (SELECT b.doc_id AS doc_id, a.doc_id AS src, COUNT(*) AS c
          FROM codes a JOIN codes b ON a.f = b.f AND a.code = b.code
            AND a.doc_id < b.doc_id
          GROUP BY b.doc_id, a.doc_id),
        dup AS (SELECT m.doc_id, MIN(src) AS dup_src
          FROM m JOIN sizes na ON na.doc_id = m.src
            JOIN sizes nb ON nb.doc_id = m.doc_id
          WHERE CAST(c AS DOUBLE) / least(na.nf, nb.nf) >= 0.8
          GROUP BY m.doc_id)
        SELECT s.doc_id, d.dup_src IS NULL AS kept, d.dup_src
        FROM sizes s LEFT JOIN dup d ON d.doc_id = s.doc_id
        ORDER BY s.doc_id""",
    // regenerates the synthetic PCM stream (pure integer function) and
    // the stub byte stream (ascii), then replays the exact stats —
    // integer sum of squares, one final sqrt, round 6
    "m77_wav_decode" ->
      """WITH p AS (SELECT doc_id, text, doc_id % 3 = 0 AS decoded,
            CASE WHEN doc_id % 3 = 0 THEN 160 + (doc_id % 13) * 16
                 ELSE length(text) END AS n
          FROM documents),
        s AS (SELECT doc_id, decoded, n, UNNEST(range(0, n)) AS i, text FROM p),
        v AS (SELECT doc_id, decoded, n, i,
            CASE WHEN decoded THEN (doc_id * 31 + i * 197) % 65536 - 32768
                 ELSE ascii(substr(text, CAST(i + 1 AS INTEGER), 1)) - 128
            END AS smp
          FROM s),
        w AS (SELECT doc_id, decoded, n, smp,
            lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev
          FROM v),
        a AS (SELECT doc_id, any_value(decoded) AS decoded,
            any_value(n) AS n,
            CAST(SUM(CAST(smp AS BIGINT) * smp) AS BIGINT) AS ss,
            MAX(abs(smp)) AS peak,
            CAST(SUM(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (smp < 0))
              THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
          FROM w GROUP BY doc_id)
        SELECT doc_id, decoded, 8000 AS sample_rate,
          CAST(n AS BIGINT) AS n_samples,
          CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
          round(sqrt(CAST(ss AS DOUBLE) / n), 6) AS rms,
          CAST(peak AS INTEGER) AS peak, zero_crossings
        FROM a ORDER BY doc_id""",
    // the q49 register replay without the exact-count column: the
    // streaming sketch must land on the batch registers bit-for-bit
    "st71_stream_hll" ->
      """WITH d AS (SELECT DISTINCT event_type,
            CAST(user_id AS VARCHAR) AS v FROM events),
        b AS (SELECT event_type,
            CAST(CAST('0x' || substr(md5(v), 1, 16) AS UBIGINT) >> 52 AS BIGINT) AS j,
            CAST(CAST('0x' || substr(md5(v), 1, 16) AS UBIGINT)
                 & 4503599627370495 AS BIGINT) AS w
          FROM d),
        r AS (SELECT event_type, j,
            MAX(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS rho
          FROM b GROUP BY event_type, j),
        agg AS (SELECT event_type,
            list_sum(list(1.0 / CAST(CAST(1 AS BIGINT) << rho AS DOUBLE)
              ORDER BY j)) AS sp,
            COUNT(*) AS np
          FROM r GROUP BY event_type),
        est AS (SELECT event_type,
            (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0
              / (sp + CAST(4096 - np AS DOUBLE)) AS e,
            4096 - np AS zeros
          FROM agg)
        SELECT event_type,
          CASE WHEN e <= 2.5 * 4096.0 AND zeros > 0
               THEN 4096.0 * ln(4096.0 / CAST(zeros AS DOUBLE))
               ELSE e END AS hll_est
        FROM est ORDER BY event_type""",
    // identical to q46's oracle: streaming state must land on the
    // batch answer (retention is order-free, so split delivery and
    // micro-batch boundaries cannot change it)
    "st70_stream_retention" ->
      """SELECT user_id,
        MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1 AS r1,
        MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1 AND
          MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 1 AS r2,
        MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 1 AND
          MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 AS r3
        FROM events GROUP BY user_id ORDER BY user_id""",
    "st61_stream_window" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2 ORDER BY day_start, event_type""",
    // st65 ingests every event twice (two staged copies of the file);
    // the oracle aggregates the single-copy table — equality holds only
    // if the streaming dedup state dropped the second delivery.
    "st65_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY event_type ORDER BY event_type""",
    // st122: the s56 oracle shape with the staged probe set — scaled
    // re-uploads of vec_id 0-29 (+1000000) and negated decoys of
    // 100-109 (+2000000); SRP planes are md5-derived, the whole
    // screen replays in SQL
    "st122_stream_embed_index_screen" ->
      """WITH nb AS (
          SELECT GREATEST(6, LEAST(48,
              CASE WHEN m <= 1 THEN 6 ELSE length(bin(m - 1)) END)) AS bits
          FROM (SELECT (count(*) + 7) // 8 AS m FROM embeddings)),
        probes AS (SELECT vec_id + 1000000 AS vec_id,
            list_transform(embedding, x ->
              CAST(CAST(x AS DOUBLE) * 1.25 AS FLOAT)) AS embedding
          FROM embeddings WHERE vec_id < 30
          UNION ALL
          SELECT vec_id + 2000000,
            list_transform(embedding, x ->
              CAST(-CAST(x AS DOUBLE) AS FLOAT))
          FROM embeddings WHERE vec_id >= 100 AND vec_id < 110),
        alle AS (SELECT vec_id, embedding FROM embeddings
          UNION ALL SELECT vec_id, embedding FROM probes),
        planes AS (
          SELECT s, j, list_transform(range(0, 64), i ->
            2.0 * ((CAST('0x' || substr(md5('srp:' || s || ':' || j || ':' || i), 1, 16) AS UBIGINT) >> 11)
                   / 9007199254740992.0) - 1.0) AS p
          FROM range(42, 46) ts(s), range(0, 48) t(j), nb WHERE t.j < nb.bits),
        sgn AS (SELECT e.vec_id, pl.s, pl.j,
            CASE WHEN list_sum(list_transform(range(1, 65), i ->
                CAST(e.embedding[i] AS DOUBLE) * pl.p[i])) >= 0
              THEN (CAST(1 AS BIGINT) << pl.j) ELSE 0 END AS bit
          FROM alle e, planes pl),
        buckets AS (SELECT vec_id, s, CAST(SUM(bit) AS BIGINT) AS bucket
          FROM sgn GROUP BY vec_id, s),
        cand AS (SELECT DISTINCT l.vec_id AS pid, e.vec_id AS src
          FROM buckets l JOIN buckets e
            ON l.s = e.s AND l.bucket = e.bucket
            AND l.vec_id >= 1000000 AND e.vec_id < 1000000),
        scored AS (SELECT cand.pid, cand.src,
            round(list_sum(list_transform(range(1, 65), i ->
                CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(range(1, 65), i ->
                  CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65), i ->
                  CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))))),
              6) AS cs
          FROM cand
          JOIN alle x ON x.vec_id = cand.pid
          JOIN alle y ON y.vec_id = cand.src),
        dup AS (SELECT pid, MIN(src) AS dup_src FROM scored
          WHERE cs >= 0.4 GROUP BY pid)
        SELECT p.vec_id, d.dup_src IS NULL AS kept, d.dup_src
        FROM probes p LEFT JOIN dup d ON d.pid = p.vec_id
        ORDER BY p.vec_id""",
    // st119: both URL dressings synthesized arithmetically, the
    // canonicalizer replayed rule-for-rule (the t86 CTE shape), and
    // kept = min doc_id per canonical key (delivery is id-ordered)
    "st119_stream_url_dedup" ->
      """WITH pages AS (
          SELECT CAST(id AS BIGINT) AS doc_id, 0 AS batch,
            CAST(id AS BIGINT) AS page FROM range(0, 50) t(id)
          UNION ALL
          SELECT CAST(id + 1000000 AS BIGINT), 1, CAST(id AS BIGINT)
          FROM range(0, 50) t(id)
          UNION ALL
          SELECT CAST(id + 2000000 AS BIGINT), 1, CAST(id + 50 AS BIGINT)
          FROM range(0, 20) t(id)),
        u AS (SELECT doc_id,
          CASE WHEN batch = 0 THEN
            'HTTPS://WWW.Docs.src' || CAST(page % 20 AS VARCHAR) ||
            '.COM:443/Wiki/Page-' || CAST(page AS VARCHAR) ||
            '/?utm_source=feed&a=1&b=2#x'
          ELSE
            'https://docs.src' || CAST(page % 20 AS VARCHAR) ||
            '.com/Wiki/Page-' || CAST(page AS VARCHAR) ||
            '?b=2&a=1&utm_campaign=z'
          END AS url FROM pages),
        c AS (SELECT doc_id,
          lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          regexp_replace(lower(regexp_extract(regexp_extract(url,
            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^([^:]*)', 1)),
            '^www\.([^.]+\..*)', '\1') AS host,
          regexp_extract(regexp_extract(url,
            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ':([0-9]+)$', 1) AS port,
          regexp_extract(regexp_extract(url,
            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1), '^([^?]*)', 1) AS path0,
          regexp_extract(regexp_extract(url,
            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1), '\?(.*)$', 1) AS query
        FROM u),
        k AS (SELECT doc_id, scheme || '://' || host ||
          (CASE WHEN port <> '' AND NOT ((scheme = 'https' AND port = '443')
                OR (scheme = 'http' AND port = '80'))
            THEN ':' || port ELSE '' END) ||
          (CASE WHEN path0 = '' THEN '/'
            ELSE regexp_replace(path0, '(.)/$', '\1') END) ||
          (CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS url_canon
        FROM (SELECT *, array_to_string(list_sort(list_filter(
            string_split(query, '&'),
            p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') AS q FROM c))
        SELECT doc_id,
          doc_id = min(doc_id) OVER (PARTITION BY url_canon) AS kept
        FROM k ORDER BY doc_id""",
    // winnowing replayed on both sides: delivery docs (spliced + raw)
    // winnow per instance, the eval probe set distinct; hits join on
    // the fingerprint hash
    "st87_stream_winnow_decontam" ->
      """WITH delivery AS (
          SELECT doc_id + 1000000 AS doc_id,
            'junk prefix tokens before the borrowed span ' || text ||
              ' junk suffix after' AS text
          FROM documents WHERE doc_id < 5
          UNION ALL
          SELECT doc_id, text FROM documents
          WHERE doc_id >= 100 AND doc_id < 110),
        wd AS (SELECT doc_id, string_split(text, ' ') AS tk FROM delivery),
        gd AS (SELECT doc_id, list_transform(range(1, greatest(len(tk)-3,0)+1),
            i -> md5(tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3])) AS gs
          FROM wd),
        sd AS (SELECT doc_id, gs,
          CASE WHEN len(gs) = 0 THEN CAST([] AS BIGINT[])
            WHEN len(gs) <= 5 THEN
              [len(gs) + 1 - list_position(list_reverse(gs), list_min(gs))]
            ELSE list_distinct(list_transform(range(1, len(gs)-5+2),
              j -> j + 5 - list_position(
                list_reverse(list_slice(gs, j, j+4)),
                list_min(list_slice(gs, j, j+4)))))
          END AS ps FROM gd),
        fd AS (SELECT doc_id, gs[u.p] AS fp FROM sd, unnest(ps) u(p)),
        wp AS (SELECT doc_id, string_split(text, ' ') AS tk
          FROM documents WHERE doc_id < 5),
        gp AS (SELECT doc_id, list_transform(range(1, greatest(len(tk)-3,0)+1),
            i -> md5(tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3])) AS gs
          FROM wp),
        sp AS (SELECT doc_id, gs,
          CASE WHEN len(gs) = 0 THEN CAST([] AS BIGINT[])
            WHEN len(gs) <= 5 THEN
              [len(gs) + 1 - list_position(list_reverse(gs), list_min(gs))]
            ELSE list_distinct(list_transform(range(1, len(gs)-5+2),
              j -> j + 5 - list_position(
                list_reverse(list_slice(gs, j, j+4)),
                list_min(list_slice(gs, j, j+4)))))
          END AS ps FROM gp),
        pf AS (SELECT DISTINCT gs[u.p] AS fp FROM sp, unnest(ps) u(p))
        SELECT fd.doc_id, COUNT(*) AS n_hits
        FROM fd JOIN pf ON fd.fp = pf.fp
        GROUP BY fd.doc_id ORDER BY fd.doc_id""",
    // kept count = distinct raw texts among the 30 delivered docs
    // (normalization is the identity on the ASCII corpus and restores
    // every spoof to a batch-1 text, so no spoof survives); counts are
    // batch-split-invariant, so the corpus derives them directly
    "st86_stream_confusable_dedup" ->
      """SELECT COUNT(DISTINCT md5(text)) AS total_kept,
        CAST(0 AS BIGINT) AS spoofed_kept
        FROM documents WHERE doc_id < 30""",
    // st90: the t76/t77 winnow selection replayed over corpus +
    // delivered batch 2, with the maxBucket=64 fold replayed EXACTLY:
    // under id-monotonic delivery an arrival emits hits iff its
    // id-rank within the fingerprint's bucket is <= 64, and it sees
    // every lower-id member (all of which registered before it)
    "st90_stream_winnow_dedup" ->
      """WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000,
            'junk prefix tokens before the borrowed span ' || text ||
              ' junk suffix after'
          FROM documents WHERE doc_id < 5
          UNION ALL
          SELECT doc_id + 2000000, reverse(text)
          FROM documents WHERE doc_id >= 40 AND doc_id < 45),
        w AS (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus),
        g AS (SELECT doc_id, list_transform(range(1, greatest(len(tk)-3,0)+1),
            i -> md5(tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3])) AS gs
          FROM w),
        sel AS (SELECT doc_id, gs,
          CASE WHEN len(gs) = 0 THEN CAST([] AS BIGINT[])
            WHEN len(gs) <= 5 THEN
              [len(gs) + 1 - list_position(list_reverse(gs), list_min(gs))]
            ELSE list_distinct(list_transform(range(1, len(gs)-5+2),
              j -> j + 5 - list_position(
                list_reverse(list_slice(gs, j, j+4)),
                list_min(list_slice(gs, j, j+4)))))
          END AS ps FROM g),
        fpd AS (SELECT DISTINCT doc_id, gs[u.p] AS fp
          FROM sel, unnest(ps) u(p)),
        rk AS (SELECT doc_id, fp,
            ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM fpd),
        p AS (SELECT b.doc_id AS d, a.doc_id AS src, COUNT(*) AS c
          FROM rk a JOIN rk b ON a.fp = b.fp AND a.doc_id < b.doc_id
            AND b.rn <= 64
          GROUP BY 1, 2),
        dup AS (SELECT d, MIN(src) AS dup_src FROM p WHERE c >= 3
          GROUP BY 1)
        SELECT f.doc_id, dup.dup_src IS NULL AS kept, dup.dup_src
        FROM (SELECT DISTINCT doc_id FROM fpd) f
        LEFT JOIN dup ON dup.d = f.doc_id
        ORDER BY f.doc_id""",
    // st91: the t78 CDC chunking replayed over the same delivery with
    // the identical exact cap replay; shared distinct chunks >= 2
    "st91_stream_cdc_dedup" ->
      """WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000,
            'junk prefix tokens before the borrowed span ' || text ||
              ' junk suffix after'
          FROM documents WHERE doc_id < 5
          UNION ALL
          SELECT doc_id + 2000000, reverse(text)
          FROM documents WHERE doc_id >= 40 AND doc_id < 45),
        w AS (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus),
        bp AS (SELECT doc_id, tk, list_filter(range(4, len(tk)+1),
            i -> substr(md5(tk[i-3]||' '||tk[i-2]||' '||tk[i-1]||' '||tk[i]),
              32, 1) IN ('0', '1')) AS bs
          FROM w),
        ed AS (SELECT doc_id, tk,
            list_concat(list_concat([CAST(0 AS BIGINT)], bs),
              CASE WHEN len(bs) > 0 AND bs[-1] = len(tk)
                THEN CAST([] AS BIGINT[])
                ELSE [CAST(len(tk) AS BIGINT)] END) AS es
          FROM bp),
        ch0 AS (SELECT doc_id,
            list_filter(list_transform(range(1, len(es)),
              j -> CASE WHEN es[j+1] - es[j] >= 4
                THEN md5(array_to_string(
                  list_slice(tk, es[j]+1, es[j+1]), ' '))
                ELSE NULL END), x -> x IS NOT NULL) AS hs
          FROM ed),
        fpd AS (SELECT DISTINCT doc_id, u.h AS fp
          FROM ch0, unnest(hs) u(h)),
        rk AS (SELECT doc_id, fp,
            ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM fpd),
        p AS (SELECT b.doc_id AS d, a.doc_id AS src, COUNT(*) AS c
          FROM rk a JOIN rk b ON a.fp = b.fp AND a.doc_id < b.doc_id
            AND b.rn <= 64
          GROUP BY 1, 2),
        dup AS (SELECT d, MIN(src) AS dup_src FROM p WHERE c >= 2
          GROUP BY 1)
        SELECT f.doc_id, dup.dup_src IS NULL AS kept, dup.dup_src
        FROM (SELECT DISTINCT doc_id FROM fpd) f
        LEFT JOIN dup ON dup.d = f.doc_id
        ORDER BY f.doc_id""",
    // st88: E1 (ids < 20) re-delivered AFTER the watermark evicted its
    // state re-emits (n=2 — the bounded-state proof); E3 (40-59)
    // re-delivered inside the horizon is dropped by state and E2
    // (20-39) is delivered once — both n=1
    "st88_stream_dedup_watermark" ->
      """SELECT event_id,
        CAST(CASE WHEN event_id < 20 THEN 2 ELSE 1 END AS BIGINT) AS n
        FROM events WHERE event_id < 60 ORDER BY event_id""",
    // st66 streams documents through the gate; the oracle replays the
    // t47 gate batch-side and aggregates the decisions.
    "st66_stream_quality_gate" ->
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
        sig AS (SELECT doc_id,
          len(tk) BETWEEN 10 AND 100000 AS ok1,
          CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk)
            BETWEEN 2.0 AND 6.0 AS ok2,
          len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) >= 1
            AS ok3,
          CAST(length(regexp_replace(text, '[^#…|<>{}]', '', 'g')) AS DOUBLE)
            / length(text) <= 0.1 AS ok4
          FROM w)
        SELECT (ok1 AND ok2 AND ok3 AND ok4) AS keep, COUNT(*) AS n,
          CAST(SUM(CASE WHEN ok3 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_stopwords
        FROM sig GROUP BY 1 ORDER BY keep""",
    // st67 streams shingle instances through the static probe join; the
    // oracle counts contaminated shingle INSTANCES per doc batch-side
    // (probe distinct, so each instance matches at most once)
    "st67_stream_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        sh AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk)-2,0)+1),
          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g FROM w),
        probe AS (SELECT DISTINCT g FROM sh WHERE doc_id < 5)
        SELECT s.doc_id, count(*) AS n_hits
        FROM sh s JOIN probe p ON s.g = p.g
        GROUP BY s.doc_id ORDER BY s.doc_id""",
    // st69 joins the s44 assignment replay with the s47 quantization
    // replay — the streaming path must land on the batch answer
    "st69_stream_embed_ingest" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
          WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
        dists AS (SELECT e.vec_id, c.cid,
          round(list_sum(list_transform(range(1, 65), i ->
            (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) *
            (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)))), 6) AS d
          FROM embeddings e, cents c),
        assigned AS (SELECT vec_id, cid AS centroid_id, d AS dist_sq FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
           FROM dists) WHERE rn = 1),
        q AS (SELECT vec_id,
          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
          array_to_string(list_transform(embedding, x ->
            CAST(CASE WHEN list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0 = 0
                 THEN 0
                 ELSE floor(CAST(x AS DOUBLE) /
                   (list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0) + 0.5)
                 END AS INTEGER)), ',') AS q_str
          FROM embeddings)
        SELECT a.vec_id, a.centroid_id, a.dist_sq, q.scale, q.q_str
        FROM assigned a JOIN q ON q.vec_id = a.vec_id
        ORDER BY a.vec_id""",
    // st68 replays the streaming near-dup ladder batch-side: both
    // deliveries unioned, t37's signature derivation, t38's band keys,
    // and the drop rule — a document is dropped iff some LOWER-id
    // document shares a band bucket and >= 8 of 16 signature components
    // agree (the MinHash Jaccard estimate at 0.5). Null components
    // (zero-shingle docs) never agree on either side.
    "st68_stream_neardup" ->
      """WITH all_docs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text || ' streamdup tail' AS text
          FROM documents),
        words AS (SELECT doc_id, string_split(text, ' ') AS w FROM all_docs),
        sh AS (SELECT doc_id, list_transform(range(1, greatest(len(w)-2,0)+1),
          i -> w[i]||' '||w[i+1]||' '||w[i+2]) AS shingles FROM words),
        sigs AS (SELECT doc_id, list_transform(range(0,16),
          i -> list_aggregate(list_transform(shingles,
            s -> md5(CAST(i AS VARCHAR)||':'||s)), 'min')) AS sig FROM sh),
        bands AS (SELECT doc_id, b, md5(sig[b*2+1]||'|'||sig[b*2+2]) AS band_key
          FROM sigs, range(0,8) t(b)),
        dropped AS (SELECT DISTINCT l.doc_id
          FROM bands l
          JOIN bands e ON l.b = e.b AND l.band_key = e.band_key
            AND e.doc_id < l.doc_id
          JOIN sigs sl ON sl.doc_id = l.doc_id
          JOIN sigs se ON se.doc_id = e.doc_id
          WHERE len(list_filter(range(1, 17), i ->
            sl.sig[i] IS NOT NULL AND sl.sig[i] = se.sig[i])) >= 8)
        SELECT a.doc_id, (dropped.doc_id IS NULL) AS kept
        FROM all_docs a LEFT JOIN dropped ON a.doc_id = dropped.doc_id
        ORDER BY a.doc_id""",
    "st62_sessionize" ->
      """WITH ev AS (
          -- Spark reads the NANOS parquet truncated to microseconds
          -- (Util.t); truncate here too so lag/gap comparisons and
          -- (ts, event_id) ordering agree on sub-microsecond events.
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
          FROM events
        ), ordered AS (
          SELECT user_id, event_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS is_new
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          -- BIGINT cast: DuckDB's window SUM yields HUGEINT, which the
          -- driver's hasher does not canonicalize like Spark's BIGINT.
          SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_seq
          FROM ordered
        )
        SELECT user_id, session_seq, COUNT(*) AS n_events,
          CAST(floor(epoch(MIN(ts))) AS BIGINT) AS start_s,
          CAST(floor(epoch(MAX(ts))) AS BIGINT) AS end_s,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM sess GROUP BY user_id, session_seq
        ORDER BY user_id, session_seq""",
    "m71_media_meta" ->
      """SELECT doc_id, length(text) AS n_bytes, 'text/plain' AS mime,
        md5(text) AS content_hash
        FROM documents ORDER BY doc_id""",
    "m74_media_resize" ->
      """SELECT doc_id,
        CAST((length(text) + 3) // 4 AS INTEGER) AS n_bytes,
        CAST(length(text) AS INTEGER) AS orig_bytes,
        md5(array_to_string(list_transform(
          range(0, (length(text) + 3) // 4), i -> substr(text, i*4 + 1, 1)), ''))
          AS resized_hash
        FROM documents ORDER BY doc_id""",
    "st64_stream_session_window" ->
      """WITH ev AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
          FROM events
        ), ordered AS (
          SELECT user_id, event_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                 THEN 1 ELSE 0 END AS is_new
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sid
          FROM ordered
        )
        SELECT user_id,
          CAST(floor(epoch(MIN(ts))) AS BIGINT) AS start_s,
          CAST(floor(epoch(MAX(ts))) AS BIGINT) AS end_s,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, start_s""",
    "m72_media_features" ->
      """WITH counts AS (
          SELECT doc_id, length(text) AS n,
            list_filter(list_transform(range(0, 256), b ->
              length(text) - length(replace(text, chr(CAST(b AS INTEGER)), ''))),
              c -> c > 0) AS cs
          FROM documents)
        SELECT doc_id, CAST(n AS INTEGER) AS n_bytes,
          CAST(list_sum(list_transform(range(1, n + 1), i -> ascii(text[i])))
            AS DOUBLE) / n AS mean_byte,
          -list_sum(list_transform(cs,
            c -> (CAST(c AS DOUBLE)/n) * ln(CAST(c AS DOUBLE)/n) / ln(2)))
            AS byte_entropy,
          CAST(len(cs) AS INTEGER) AS distinct_bytes
        FROM documents JOIN counts USING (doc_id) ORDER BY doc_id""",
    "m73_frame_sample" ->
      """WITH f AS (SELECT doc_id, text,
          unnest(range(0, length(text)//16, 4)) AS fi
        FROM documents)
        SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
          md5(substr(text, CAST(fi*16+1 AS INTEGER), 16)) AS frame_hash
        FROM f ORDER BY doc_id, frame_idx"""
    ,
    // regenerates the subtitle cue text from its integer formula
    // (subsId = doc_id % 5, cues = 6 + doc_id % 5, cue i =
    // 'c' || (sid*40503 + i*127) % 9973 joined by \n) and replays the
    // exact-text match — same-text pairs across different videos
    "m96_subtitle_dedup" ->
      """WITH ids AS (SELECT unnest(range(0, 10)) AS doc_id),
        params AS (SELECT doc_id, doc_id % 5 AS sid,
            6 + doc_id % 5 AS n FROM ids),
        cues AS (SELECT doc_id, u.i,
            'c' || CAST((sid * 40503 + u.i * 127) % 9973 AS VARCHAR) AS cue
          FROM params, LATERAL (SELECT unnest(range(0, n)) AS i) u(i)),
        texts AS (SELECT doc_id,
            string_agg(cue, chr(10) ORDER BY i) AS text
          FROM cues GROUP BY doc_id)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM texts a JOIN texts b
          ON a.text = b.text AND a.doc_id < b.doc_id
        ORDER BY doc_a, doc_b""",
    // the documents-side replay: which docs < 5 share text with which
    // (cue chunking + reassembly is the identity on the newline-free
    // corpus, so the video side contributes only its 1000000 offset);
    // duplicate texts in the corpus legitimately yield extra rows
    "m97_subtitle_decontam" ->
      """SELECT 1000000 + a.doc_id AS video_id, b.doc_id AS doc_id
        FROM documents a JOIN documents b ON a.text = b.text
        WHERE a.doc_id < 5
        ORDER BY video_id, doc_id""",
    // the streaming form plants docs 0-9 (two micro-batches); the
    // stream-static join sees exactly what the batch join would
    "st76_stream_subtitle_decontam" ->
      """SELECT 1000000 + a.doc_id AS video_id, b.doc_id AS doc_id
        FROM documents a JOIN documents b ON a.text = b.text
        WHERE a.doc_id < 10
        ORDER BY video_id, doc_id""",
    // the m91 landmark replay over BOTH id spaces: the decimated
    // 16 kHz stream equals the 8 kHz master by construction (zero-
    // order hold preserves on-grid samples), so one base formula
    // serves every doc and only the bid mapping differs
    "m99_audio_resample_dedup" ->
      """WITH ids AS (SELECT unnest(range(0, 10)) AS doc_id
          UNION ALL SELECT unnest(range(1000000, 1000010)) AS doc_id),
        lens AS (SELECT doc_id,
            CASE WHEN doc_id < 1000000 THEN doc_id % 5
                 ELSE (doc_id - 1000000) % 5 END AS bid,
            320 + (CASE WHEN doc_id < 1000000 THEN doc_id % 5
                 ELSE (doc_id - 1000000) % 5 END) * 64 AS n FROM ids),
        samples AS (SELECT doc_id, u.i,
            ((bid * 40503 + 12289) * (u.i + 7) * (u.i + 13))
              % 65536 - 32768 AS v
          FROM lens, LATERAL (SELECT unnest(range(0, n)) AS i) u(i)),
        frames AS (SELECT doc_id, u.f FROM lens,
          LATERAL (SELECT unnest(range(0, (n - 128) // 64 + 1)) AS f) u(f)
          WHERE n >= 128),
        lags AS (SELECT * FROM (VALUES (0,1),(1,2),(2,4),(3,8),(4,16),
          (5,32),(6,64)) l(j, lg)),
        rr AS (SELECT fr.doc_id, fr.f, lags.j, SUM(a.v * b.v) AS r
          FROM frames fr, lags
          JOIN samples a ON TRUE
          JOIN samples b ON b.doc_id = a.doc_id AND b.i = a.i + lags.lg
          WHERE a.doc_id = fr.doc_id
            AND a.i >= fr.f * 64 AND a.i < fr.f * 64 + 128 - lags.lg
          GROUP BY fr.doc_id, fr.f, lags.j),
        sbits AS (SELECT doc_id, f,
            SUM(CASE WHEN r > 0 THEN 1 << j ELSE 0 END) AS s_code
          FROM rr GROUP BY doc_id, f),
        cbits AS (SELECT x.doc_id, x.f,
            SUM(CASE WHEN x.r > y.r THEN 1 << (7 + x.j) ELSE 0 END) AS c_code
          FROM rr x JOIN rr y ON y.doc_id = x.doc_id AND y.f = x.f
            AND y.j = x.j + 1
          GROUP BY x.doc_id, x.f),
        codes AS (SELECT s.doc_id, s.f, s.s_code + COALESCE(c.c_code, 0) AS code
          FROM sbits s LEFT JOIN cbits c
            ON c.doc_id = s.doc_id AND c.f = s.f),
        lmraw AS (SELECT doc_id, code,
            LEAD(code) OVER (PARTITION BY doc_id ORDER BY f) AS nxt
          FROM codes),
        lms AS (SELECT DISTINCT doc_id, code * 8192 + nxt AS lm
          FROM lmraw WHERE nxt IS NOT NULL),
        sizes AS (SELECT doc_id, COUNT(*) AS nl FROM lms GROUP BY doc_id),
        m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM lms a JOIN lms b ON a.lm = b.lm AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT doc_a, doc_b,
          round(CAST(c AS DOUBLE) / least(sa.nl, sb.nl), 6) AS match_frac
        FROM m JOIN sizes sa ON sa.doc_id = m.doc_a
          JOIN sizes sb ON sb.doc_id = m.doc_b
        WHERE round(CAST(c AS DOUBLE) / least(sa.nl, sb.nl), 6) >= 0.6
        ORDER BY doc_a, doc_b""",
    // the t66 MinHash replay with the probe CTE applying the same
    // 5-word edit tail the cue track carries (word-grouped cues
    // space-rejoin to exactly this string); decoy formula cues never
    // band-match and need no CTE
    "m98_subtitle_neardup" ->
      """WITH probes AS (SELECT 1000000 + doc_id AS doc_id,
            text || ' zz1 zz2 zz3 zz4 zz5' AS text
          FROM documents WHERE doc_id < 5),
        wc AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        wp AS (SELECT doc_id, string_split(text, ' ') AS w FROM probes),
        shc AS (SELECT doc_id, list_transform(range(1, greatest(len(w)-2,0)+1),
          i -> w[i]||' '||w[i+1]||' '||w[i+2]) AS shingles FROM wc),
        shp AS (SELECT doc_id, list_transform(range(1, greatest(len(w)-2,0)+1),
          i -> w[i]||' '||w[i+1]||' '||w[i+2]) AS shingles FROM wp),
        sigc AS (SELECT doc_id, list_transform(range(0,16),
          i -> list_aggregate(list_transform(shingles,
            s -> md5(CAST(i AS VARCHAR)||':'||s)), 'min')) AS sig FROM shc),
        sigp AS (SELECT doc_id, list_transform(range(0,16),
          i -> list_aggregate(list_transform(shingles,
            s -> md5(CAST(i AS VARCHAR)||':'||s)), 'min')) AS sig FROM shp),
        bc AS (SELECT doc_id, b, md5(sig[b*2+1]||'|'||sig[b*2+2]) AS band_key
          FROM sigc, range(0,8) t(b)),
        bp AS (SELECT doc_id, b, md5(sig[b*2+1]||'|'||sig[b*2+2]) AS band_key
          FROM sigp, range(0,8) t(b)),
        cand AS (SELECT DISTINCT c.doc_id AS doc_a, p.doc_id AS doc_b
          FROM bc c JOIN bp p ON c.b = p.b AND c.band_key = p.band_key),
        dc AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM shc),
        dp AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM shp),
        sa AS (SELECT doc_id, COUNT(*) AS n FROM dc GROUP BY doc_id),
        sb AS (SELECT doc_id, COUNT(*) AS n FROM dp GROUP BY doc_id),
        common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
          FROM dc a JOIN dp b ON a.shingle = b.shingle
          GROUP BY a.doc_id, b.doc_id),
        jac AS (SELECT common.doc_a, common.doc_b,
            CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
          FROM common
          JOIN cand ON common.doc_a = cand.doc_a AND common.doc_b = cand.doc_b
          JOIN sa ON common.doc_a = sa.doc_id
          JOIN sb ON common.doc_b = sb.doc_id)
        SELECT doc_a AS doc_id, doc_b AS probe_id, jaccard FROM jac
        WHERE jaccard >= 0.5 ORDER BY doc_id, probe_id"""
  ) match {
    // m94 replays the m91 arithmetic verbatim: same 10-doc id space,
    // same `doc_id % 5` audio-id formula — only the extraction
    // container changed (EBML blocks instead of MP4 sample tables),
    // which the SQL replay never sees
    case m => m +
      // m107's contract is total: every id must extract from both the
      // laced and unlaced mux AND byte-match, so the oracle is the
      // full expected relation, not a derivation
      ("m107_mkv_laced_audio" ->
        """SELECT CAST(range AS BIGINT) AS doc_id,
             CAST(TRUE AS BOOLEAN) AS same
           FROM range(0, 10) ORDER BY doc_id""") +
      ("m94_mkv_audio_dedup" -> m("m91_mp4_audio_dedup")) +
      // m108 is m97 re-muxed as styled ASS: stripping restores the
      // identical probe text, so the documents-side replay is verbatim
      ("m108_subtitle_styled_decontam" -> m("m97_subtitle_decontam")) +
      // m104 replays m91 too: fragment-resident samples, same formula
      ("m104_fmp4_audio_dedup" -> m("m91_mp4_audio_dedup")) +
      // m101 replays m99's arithmetic verbatim: same id spaces, same
      // bid formula — the dual-mono downmix recovers the base stream
      // exactly, so the replay never sees the channel layout
      ("m101_audio_stereo_dedup" -> m("m99_audio_resample_dedup"))
  }
}
