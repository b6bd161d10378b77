package graft.queries

import graft.fixtures.Catalogue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Multimodal, Sessionize, StreamingNearDup}
import Util._
import graft.operators.Multimodal.{AudioChroma, AudioCode, AudioInterval,
  AudioLandmark, AudioOnset, AudioOnsetRolling, AudioSpectralCode,
  AudioSpectralLandmark, ImageAffine, ImageAffineFrame,
  ImageAffineFrameAnchored, ImageAffineFrameChiral,
  ImageAffineFrameSqueezeFan, ImagePeak, ImagePeakDihedral, ImageRotScale,
  ImageScale, ImageScaleAspect, ImageScaleCanonical, ImageScaleDihedral,
  PHash, PHashCrop, PHashDihedral, PHashFlip, PHashRot, VideoCrop, VideoPeak,
  VideoRotScale, VideoScale, VideoScaleAspect, VideoScaleCanonical,
  VideoShift, VideoShiftDihedral, VideoShiftFlip, VideoSkip}

/** Structured Streaming + stateful + multimodal surface.
  *
  * st61 runs a REAL streaming query (file source → event-time window agg
  * → memory sink, drained with processAllAvailable) whose final table
  * must equal the batch oracle — the micro-batch model's correctness
  * contract. st62 is keyed stateful sessionization (the
  * flatMapGroupsWithState walk, run as one sorted pass per key). st63
  * exercises tip-follow catch-up of the chain pipeline. The media st
  * gates stream the [[graft.fixtures.Catalogue]] entry of the m gate they
  * twin ([[MultimodalOps]]): masters in micro-batch 1, probes after.
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

    // STREAMING aligned spectral audio dedup — completes the
    // {integer, spectral} x {aligned, landmark} streaming 2x2
    // (st73/st74/st82/this): micro-batch 1 delivers 10 tone masters
    // at 8 kHz, micro-batch 2 their straight 44.1 kHz re-uploads
    // (same start, no trim) — integer state shares no codes with
    // them; rate-free spectral codes land every one. Consumer scores
    // shared frames >= 0.8 over the smaller sequence (the st73
    // metric). Pinned golden.
    "st84_stream_spectral_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val wav = Catalogue.tones.udf(1000000L)
      val staged = stageBatches("graft-stream-spec",
        mediaRows(s.range(0, 10), wav),
        mediaRows(s.range(1000000L, 1000010L), wav))
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
      val wav = Catalogue.tones.udf(1000000L, 1000000L)
      val corpus = mediaRows(s.range(0, 8), wav)
      val index = Multimodal.index(AudioSpectralCode)(corpus)
        .select(col("frame_idx"), col("code"), col("doc_id").as("src"),
          col("nf").as("nf_src"))
      val staged = stageBatches("graft-stream-specidx",
        mediaRows(s.range(1000000L, 1000005L), wav),
        mediaRows(s.range(1000005L, 1000008L)
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

    // STREAMING spectral-landmark audio dedup (the m110 tier in the
    // streaming matrix): micro-batch 1 delivers 10 tone masters at
    // 8 kHz, micro-batch 2 their 128 ms-trimmed 44.1 kHz re-uploads —
    // the compound no integer or aligned state can see. Rate-free
    // landmark buckets emit earlier sharers; the batch query over the
    // sink scores shared distinct landmarks >= 0.6 over the smaller
    // set (the m110 metric). Pinned golden.
    "st82_stream_spectral_landmark_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val wav = Catalogue.tonesTrim.udf(1000000L)
      val staged = stageBatches("graft-stream-slm",
        mediaRows(s.range(0, 10), wav),
        mediaRows(s.range(1000000L, 1000010L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioSpectralLandmark())(
        stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st82_out" -> hits), Share(0.6))
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
      val wav = Catalogue.onsets.udf(1000000L)
      val staged = stageBatches("graft-stream-onset",
        mediaRows(s.range(0, 10), wav),
        mediaRows(s.range(1000000L, 1000010L), wav))
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
      val wav = Catalogue.beatsSpeed.udf(1000000L)
      val staged = stageBatches("graft-stream-speed",
        mediaRows(s.range(0, 10), wav),
        mediaRows(s.range(1000000L, 1000010L), wav))
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
      val wav = Catalogue.onsetsNoisy.udf(1000000L)
      val staged = stageBatches("graft-stream-noisy",
        mediaRows(s.range(0, 10), wav),
        mediaRows(s.range(1000000L, 1000010L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioOnsetRolling())(
        stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st93_out" -> hits), Share(0.6))
    }),

    // STREAMING arbitrary-offset crop video dedup (the m138 tier in
    // the streaming matrix): micro-batch 1 delivers 4 masters (ids
    // spaced per the m138 linear-generator note) — each registers its
    // pooled per-frame peak landmarks into bucket state — micro-batch
    // 2 their arbitrary-offset cropped + trimmed re-uploads;
    // shared-frame interior peaks land bit-exactly. Pinned golden.
    "st102_stream_video_peak_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      val avi = Catalogue.aviPeakCrop.udf(1000000L)
      val staged = stageBatches("graft-stream-vpeak",
        mediaRows(Seq(0L, 1L, 10L, 11L).toDF("id"), avi),
        mediaRows(s.range(1000000L, 1000004L), avi))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoPeak(every = 1))(
        stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st102_out" -> hits), Share(0.6))
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
      val img = Catalogue.peakLossyCycle.udf(1000000L)
      val staged = stageBatches("graft-stream-peaklossy",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
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

    // STREAMING crop+RESIZE image dedup (the m143 tier in the
    // streaming matrix): micro-batch 1 delivers 6 blob masters —
    // constellation codes enter bucket state — micro-batch 2 their
    // cropped-and-rescaled re-deliveries, which every exact-pixel
    // streaming tier (st101/st104/st105) is structurally blind to;
    // each probe's surviving quads land in its master's buckets at
    // 0.6-1.0 over the probe's set. Consumer scores shared distinct
    // landmarks over the smaller set >= 0.4. Pinned golden.
    "st106_stream_scale_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = Catalogue.scaleCrop.udf(1000000L)
      val staged = stageBatches("graft-stream-scale",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(ImageScale())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st106_out" -> hits), Share(0.4))
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
      val img = Catalogue.scaleDihedral.udf(1000000L)
      val staged = stageBatches("graft-stream-scaledih",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
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

    // STREAMING arbitrary-angle rotation dedup (the m150 tier in the
    // streaming matrix): micro-batch 1 delivers 6 blob masters —
    // rotation-invariant codes enter bucket state — micro-batch 2
    // their rotated (+rescaled) re-deliveries, which the dihedral
    // streaming fan (st107) is structurally blind to. Consumer scores
    // shared distinct landmarks over the smaller set >= 0.3. Pinned
    // golden.
    "st110_stream_rot_scale_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = Catalogue.rotScale.udf(1000000L)
      val staged = stageBatches("graft-stream-rotscale",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(ImageRotScale())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st110_out" -> hits), Share(0.2))
    }),

    // STREAMING aspect-squeeze dedup (the m152 tier in the streaming
    // matrix): micro-batch 1 delivers 6 blob masters — identity
    // readouts enter bucket state — micro-batch 2 their squeezed
    // (0.75 / 4:3-stretched) re-deliveries; each probe's undoing
    // hypothesis lands in its master's buckets. Consumer scores the
    // best hypothesis' distinct-landmark hits over the smaller
    // identity count at the 0.3 gate. Pinned golden.
    "st111_stream_aspect_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = Catalogue.aspect.udf(1000000L)
      val staged = stageBatches("graft-stream-aspect",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
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

    // STREAMING any-angle-rotated video dedup (the m154 tier in the
    // streaming matrix): micro-batch 1 delivers 6 blob-frame
    // masters — pooled rotation-invariant codes enter bucket state —
    // micro-batch 2 their rotated (+rescaled/trimmed) re-deliveries.
    // Consumer scores shared distinct landmarks over the smaller
    // pooled set >= 0.2. Pinned golden.
    "st112_stream_video_rot_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = Catalogue.videoRot.udf(1000000L)
      val staged = stageBatches("graft-stream-vidrot",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoRotScale())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st112_out" -> hits), Share(0.2))
    }),

    // STREAMING full-affine image dedup (st120 — the m169 tier in the
    // streaming matrix): micro-batch 1 delivers 6 blob masters
    // (whitened rot codes enter bucket state), micro-batch 2 their
    // rotated+squeezed re-deliveries. Consumer scores at the 0.25
    // gate. Pinned golden.
    "st120_stream_affine_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = Catalogue.affine.udf(1000000L)
      val staged = stageBatches("graft-stream-affine",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(ImageAffine())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st120_out" -> hits), Share(0.25))
    }),

    // STREAMING unknown-anamorphic video dedup (st118 — the m167 tier
    // in the streaming matrix): micro-batch 1 delivers 6 blob-video
    // masters, micro-batch 2 their anamorphic re-deliveries at
    // factors outside any default fan. Consumer scores at the
    // canonical 0.3 gate. Pinned golden.
    "st118_stream_video_canonical_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = Catalogue.videoCanonical.udf(1000000L)
      val staged = stageBatches("graft-stream-vcanon",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoScaleCanonical())(
        stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st118_out" -> hits), Share(0.3))
    }),

    // STREAMING anamorphic video dedup (the m156 tier in the
    // streaming matrix): identity readouts register, the hypothesis
    // fan probes; each squeezed re-delivery lands at the undoing
    // factor. Consumer scores the best hypothesis over the smaller
    // identity count at the 0.3 gate. Pinned golden.
    "st113_stream_video_aspect_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = Catalogue.videoAspect.udf(1000000L)
      val staged = stageBatches("graft-stream-vidaspect",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
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

    // STREAMING crop+RESIZE video dedup (the m147 tier in the
    // streaming matrix): micro-batch 1 delivers 6 blob-frame
    // masters — pooled constellation codes enter bucket state —
    // micro-batch 2 their cropped-and-rescaled re-deliveries (one
    // trimmed), which the exact-pixel video peak stream (st102) is
    // structurally blind to. Consumer scores shared distinct
    // landmarks over the smaller pooled set >= 0.4. Pinned golden.
    "st108_stream_video_scale_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = Catalogue.videoScale.udf(1000000L)
      val staged = stageBatches("graft-stream-vidscale",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
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
      val img = Catalogue.peakDihedralCycle.udf(1000000L)
      val staged = stageBatches("graft-stream-peakdih",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
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
      val img = Catalogue.peakCropCycle.udf(1000000L)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.index(ImagePeak())(corpus)
        .select(col("lm"), col("doc_id").as("src"), col("nl").as("nl_src"))
      val staged = stageBatches("graft-stream-peakidx",
        mediaRows(s.range(1000000L, 1000004L), img),
        mediaRows(s.range(1000004L, 1000006L)
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
      val img = Catalogue.scaleCrop.udf(1000000L)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.index(ImageScale())(corpus)
        .select(col("lm"), col("doc_id").as("src"), col("nl").as("nl_src"))
      val staged = stageBatches("graft-stream-scaleidx",
        mediaRows(s.range(1000000L, 1000004L), img),
        mediaRows(s.range(1000004L, 1000006L)
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

    // STREAMING arbitrary-offset crop image dedup (the m136 tier in
    // the streaming matrix): micro-batch 1 delivers 6 masters — each
    // registers its content-anchored peak-patch landmarks into bucket
    // state — micro-batch 2 their arbitrary-offset crops, which the
    // canonical-window streaming tier (st96) is structurally blind
    // to; each crop's surviving interior peaks land bit-exactly in
    // its master's buckets at ~1.0 over the crop's set. Pinned
    // golden.
    "st101_stream_peak_crop_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val img = Catalogue.peakCropCycle.udf(1000000L)
      val staged = stageBatches("graft-stream-peak",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(ImagePeak())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st101_out" -> hits), Share(0.6))
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
      val avi = Catalogue.aviCrop.udf(1000000L)
      val staged = stageBatches("graft-stream-vcrop",
        mediaRows(s.range(0, 6), avi),
        mediaRows(s.range(1000000L, 1000004L), avi))
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

    // STREAMING thirds-cropped video dedup (extended=true on the st97
    // contract): micro-batch 1 delivers 6 48x48 masters — each
    // registers all 16 per-frame window channels into landmark-bucket
    // state — micro-batch 2 their rule-of-thirds-cropped + trimmed
    // re-uploads, structurally invisible to the base 7-channel state;
    // each crop's full-frame channel lands bit-exactly in its
    // master's thirds-window buckets. Consumer scores win=0 rows over
    // the probe's full-frame channel count >= 0.6. Pinned golden.
    "st99_stream_video_thirds_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val avi = Catalogue.aviThirds.udf(1000000L)
      val staged = stageBatches("graft-stream-vthirds",
        mediaRows(s.range(0, 6), avi),
        mediaRows(s.range(1000000L, 1000004L), avi))
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
      val img = Catalogue.pngCropStream.udf(1000000L)
      val staged = stageBatches("graft-stream-crop",
        mediaRows(s.range(0, 8), img),
        mediaRows(s.range(1000000L, 1000008L), img))
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
      val img = Catalogue.thirdsCrop.udf(1000000L)
      val staged = stageBatches("graft-stream-thirds-crop",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
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
      val wav = Catalogue.beatsSemitone.udf(1000000L)
      val staged = stageBatches("graft-stream-chroma",
        mediaRows(s.range(0, 10), wav),
        mediaRows(s.range(1000000L, 1000010L), wav))
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
      val wav = Catalogue.beatsQuarterTone.udf(1000000L)
      val staged = stageBatches("graft-stream-qtone",
        mediaRows(s.range(0, 10), wav),
        mediaRows(s.range(1000000L, 1000010L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioChroma(div = 24))(
        stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st100_out" -> hits), Share(0.6))
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
      val avi = Catalogue.aviRateStream.udf(1000000L)
      val staged = stageBatches("graft-stream-vrate",
        mediaRows(s.range(0, 10), avi),
        mediaRows(s.range(1000000L, 1000010L), avi))
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
      val mk = Catalogue.jointRot.udf(20, 4)
      val corpus = mediaRows(s.range(0, 4), mk)
      val vIndex = Multimodal.index(VideoRotScale())(corpus)
        .select(col("lm"), col("doc_id").as("src"), col("nl").as("nl_src"))
      val aIndex = Multimodal.index(AudioCode)(Multimodal.videoAudioTracks(corpus))
        .select(col("frame_idx"), col("code"),
          col("doc_id").as("src"), col("nf").as("nf_src"))
      val staged = stageBatches("graft-stream-jointidx",
        mediaRows(s.range(20, 22), mk),
        mediaRows(s.range(22, 24), mk))
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

    // STREAMING flip-tolerant VIDEO dedup: micro-batch 1 delivers 10
    // base videos, micro-batch 2 their MIRRORED AND TRIMMED re-uploads
    // (first 2 frames cut, then flipped — the compound lossless edit
    // that evades st75's exact landmark state AND the aligned tiers).
    // Arrivals probe landmark buckets with both orientations' sets;
    // only as-is landmarks enter state; scoring takes the best
    // orientation's hit count over the orient-0 landmark denominator.
    // Pinned golden.
    "st79_stream_video_flip_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val avi = Catalogue.aviTrimMirror.udf(1000000L)
      val staged = stageBatches("graft-stream-vflip",
        mediaRows(s.range(0, 10), avi),
        mediaRows(s.range(1000000L, 1000010L), avi))
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
      val avi = Catalogue.aviTrimDihedral.udf(1000000L)
      val staged = stageBatches("graft-stream-vdih",
        mediaRows(s.range(0, 10), avi),
        mediaRows(s.range(1000000L, 1000010L), avi))
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
      val png = Catalogue.pngTurnsStream.udf(1000000L)
      val staged = stageBatches("graft-stream-phrot",
        mediaRows(s.range(0, 20), png),
        mediaRows(s.range(1000000L, 1000020L), png))
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
      val png = Catalogue.pngTurnsFlipStream.udf(1000000L)
      val staged = stageBatches("graft-stream-phdih",
        mediaRows(s.range(0, 20), png),
        mediaRows(s.range(1000000L, 1000020L), png))
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
      val png = Catalogue.pngFlipStream.udf(1000000L)
      val staged = stageBatches("graft-stream-phflip",
        mediaRows(s.range(0, 20), png),
        mediaRows(s.range(1000000L, 1000020L), png))
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
      val mk = Catalogue.joint.udf(20, 4)
      val staged = stageBatches("graft-stream-joint",
        mediaRows(s.range(0, 4), mk),
        mediaRows(s.range(20, 24), mk))
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
      val img = Catalogue.canonical.udf(1000000L)
      val staged = stageBatches("graft-stream-canon",
        mediaRows(s.range(0, 6), img),
        mediaRows(s.range(1000000L, 1000006L), img))
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
      val mk = Catalogue.jointRot.udf(20, 4)
      val staged = stageBatches("graft-stream-jointrot",
        mediaRows(s.range(0, 4), mk),
        mediaRows(s.range(20, 24), mk))
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

    // STREAM-STATIC VERIFIED affine-frame screen (st124 — the m180
    // verdict mid-stream): arrivals' ANCHORED landmarks equi-join the
    // broadcast anchored index (stateless map-side join, no state
    // store); the batch side over the sink is the m180 screen's own
    // verdict ([[Multimodal.verifiedScreen]]) — candidates at the LOW
    // code gate, clouds from the sink's and the index's own distinct
    // anchors, no corpus re-decode. A GRAY-ZONE compound (under the
    // plain code gate — the class st123 is structurally blind to) is
    // flagged mid-stream; fresh arrivals stay kept. Pinned golden.
    "st124_stream_affine_verified_screen" -> ((s0, dir) => { val s = streamSession(s0)
      import s.implicits._
      implicit val sp: SparkSession = s
      val f = ImageAffineFrameAnchored()
      val img = Catalogue.affineFrameVerifiedScreen.udf(20, 3)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.index(f)(corpus)
      val staged = stageBatches("graft-stream-afvidx",
        mediaRows(s.createDataset(Seq(20L, 130L)).toDF("id"), img),
        mediaRows(s.createDataset(Seq(22L, 131L)).toDF("id"), img))
      val stream = mediaStream(s, staged)
      // materialized: the verdict reads the sink several ways, and the
      // memory sink's view resolves to the same attribute ids on every
      // read (a raw self-join fails analysis); the checkpoint's rows
      // re-instance per read
      val sunk = graft.operators.Materialize.eager(drain(s, "append")(
        "st124_lm" -> f.landmarks(stream)
          .join(broadcast(Multimodal.anchoredHits(index)), Seq("lm"), "left")))
      // the sink rows are post-join (a probe landmark matching several
      // masters repeats), so the probes' landmarks are its distinct
      // probe columns
      val lms = sunk.select(col("doc_id"), col("lm"), col("ax"), col("ay"))
        .distinct()
      val verdicts = Multimodal.verifiedScreen(f, lms,
        sunk.filter(col("src").isNotNull), index, f.minMatch, f.minShared)
      s.createDataset(Seq(20L, 22L, 130L, 131L)).toDF("doc_id")
        .join(verdicts.select(col("doc_id"), col("dup_src")), Seq("doc_id"),
          "left")
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
      val img = Catalogue.affineFrameScreen.udf(20, 3)
      val corpus = mediaRows(s.range(0, 4), img)
      val index = Multimodal.index(ImageAffineFrame())(corpus)
        .select(col("lm"), col("doc_id").as("src"), col("nl").as("nl_src"))
      val staged = stageBatches("graft-stream-afridx",
        mediaRows(s.createDataset(Seq(20L, 130L)).toDF("id"), img),
        mediaRows(s.createDataset(Seq(22L, 131L)).toDF("id"), img))
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
      val img = Catalogue.affineFrameChiralScreen.udf(20, 3)
      val corpus = mediaRows(s.range(0, 4), img)
      val index = Multimodal.index(ImageAffineFrame())(corpus)
        .select(col("lm"), col("doc_id").as("src"), col("nl").as("nl_src"))
      val staged = stageBatches("graft-stream-chiridx",
        mediaRows(s.createDataset(Seq(20L, 130L)).toDF("id"), img),
        mediaRows(s.createDataset(Seq(22L, 131L)).toDF("id"), img))
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
      val img = Catalogue.affineFrameSqueezeFanScreen.udf(20, 3)
      val corpus = mediaRows(s.range(0, 4), img)
      val index = Multimodal.index(ImageAffineFrame())(corpus)
        .select(col("lm"), col("doc_id").as("src"), col("nl").as("nl_src"))
      val staged = stageBatches("graft-stream-sqfanidx",
        mediaRows(s.createDataset(Seq(20L, 130L)).toDF("id"), img),
        mediaRows(s.createDataset(Seq(22L, 131L)).toDF("id"), img))
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

    // STREAMING embedding dedup vs a BROADCAST SRP index (st122 —
    // the s56 incremental screen at the stream-static seam, filling
    // the streaming matrix's embedding-DEDUP gap: st69 only ingests).
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
      val mkDoc = Catalogue.subtitled(_.grouped(40).toSeq)
      val mkDecoy = Catalogue.subsDecoy.udf()
      val staged = stageBatches("graft-stream-subs",
        docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            mkDoc(col("doc_id"), col("text")).as("payload")),
        docs.filter(col("doc_id") >= 5 && col("doc_id") < 10)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            mkDoc(col("doc_id"), col("text")).as("payload"))
          .unionByName(mediaRows(s.range(2000000L, 2000005L), mkDecoy)))
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

    // Streaming audio dedup under TIME SHIFT: batch 1 delivers 14
    // textured WAVs, batch 2 their leading-TRIMMED re-uploads (first
    // 128 samples = 2 hops cut) under new ids — st73's aligned state
    // sees nothing, landmark-bucket state catches every one. Oracle =
    // the m80 landmark replay + the dedup decision.
    "st74_stream_audio_landmark_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val wav = Catalogue.wavTexTrim.udf(1000000L)
      val staged = stageBatches("graft-stream-lm",
        mediaRows(s.range(0, 14), wav),
        mediaRows(s.range(1000000L, 1000014L), wav))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(AudioLandmark())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st74_out" -> hits), Share(0.6))
    }),

    // Streaming VIDEO dedup under TIME SHIFT: batch 1 delivers 10 base
    // AVIs, batch 2 their leading-2-frame-CUT re-uploads under new ids
    // — landmark-bucket state catches what aligned matching can't see
    // in any tier. Pinned golden (pHash path).
    "st75_stream_video_landmark_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val avi = Catalogue.aviTrim.udf(1000000L)
      val staged = stageBatches("graft-stream-vlm",
        mediaRows(s.range(0, 10), avi),
        mediaRows(s.range(1000000L, 1000010L), avi))
      val stream = mediaStream(s, staged)
      val hits = StreamingNearDup.hits(VideoShift())(stream, maxBucket = 64)
      voteDedup(drain(s, "append")("st75_out" -> hits), Share(0.6))
    }),

    // Streaming IMAGE near-dup dedup (the pixel tier of st68's ladder):
    // micro-batch 1 delivers 20 base PNGs, micro-batch 2 their
    // lightly-EDITED re-uploads under new ids — exact dedup can't
    // catch them, pHash chunk-bucket state does. Codec + StrictMath
    // DCT path — pinned golden gate.
    "st72_stream_phash_dedup" -> ((s0, dir) => { val s = streamSession(s0)
      val png = Catalogue.pngVariant.udf(1000000L)
      val staged = stageBatches("graft-stream-phash",
        mediaRows(s.range(0, 20), png),
        mediaRows(s.range(1000000L, 1000020L), png))
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
      val wav = Catalogue.wavTexLevel.udf(1000000L)
      val staged = stageBatches("graft-stream-audio",
        mediaRows(s.range(0, 20), wav),
        mediaRows(s.range(1000000L, 1000020L), wav))
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
        ORDER BY s.doc_id"""
    ,
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
        ORDER BY s.doc_id"""
    ,
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
        FROM est ORDER BY event_type"""
    ,
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
        FROM events GROUP BY user_id ORDER BY user_id"""
    ,
    "st61_stream_window" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start, event_type,
        COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2 ORDER BY day_start, event_type"""
    ,
    // st65 ingests every event twice (two staged copies of the file);
    // the oracle aggregates the single-copy table — equality holds only
    // if the streaming dedup state dropped the second delivery.
    "st65_stream_dedup" ->
      """SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY event_type ORDER BY event_type"""
    ,
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
        ORDER BY p.vec_id"""
    ,
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
        FROM k ORDER BY doc_id"""
    ,
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
        GROUP BY fd.doc_id ORDER BY fd.doc_id"""
    ,
    // kept count = distinct raw texts among the 30 delivered docs
    // (normalization is the identity on the ASCII corpus and restores
    // every spoof to a batch-1 text, so no spoof survives); counts are
    // batch-split-invariant, so the corpus derives them directly
    "st86_stream_confusable_dedup" ->
      """SELECT COUNT(DISTINCT md5(text)) AS total_kept,
        CAST(0 AS BIGINT) AS spoofed_kept
        FROM documents WHERE doc_id < 30"""
    ,
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
        ORDER BY f.doc_id"""
    ,
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
        ORDER BY f.doc_id"""
    ,
    // st88: E1 (ids < 20) re-delivered AFTER the watermark evicted its
    // state re-emits (n=2 — the bounded-state proof); E3 (40-59)
    // re-delivered inside the horizon is dropped by state and E2
    // (20-39) is delivered once — both n=1
    "st88_stream_dedup_watermark" ->
      """SELECT event_id,
        CAST(CASE WHEN event_id < 20 THEN 2 ELSE 1 END AS BIGINT) AS n
        FROM events WHERE event_id < 60 ORDER BY event_id"""
    ,
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
        FROM sig GROUP BY 1 ORDER BY keep"""
    ,
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
        GROUP BY s.doc_id ORDER BY s.doc_id"""
    ,
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
        ORDER BY a.vec_id"""
    ,
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
        ORDER BY a.doc_id"""
    ,
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
        ORDER BY user_id, session_seq"""
    ,
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
        ORDER BY user_id, start_s"""
    ,
    // the streaming form plants docs 0-9 (two micro-batches); the
    // stream-static join sees exactly what the batch join would
    "st76_stream_subtitle_decontam" ->
      """SELECT 1000000 + a.doc_id AS video_id, b.doc_id AS doc_id
        FROM documents a JOIN documents b ON a.text = b.text
        WHERE a.doc_id < 10
        ORDER BY video_id, doc_id"""
  )
}
