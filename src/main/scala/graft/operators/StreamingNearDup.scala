package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}
import graft.operators.Multimodal.{Family, Hashed}

/** One near-dup verdict per (document, LSH band): `dup_src` is the
  * lowest earlier document this one is a near-duplicate of (by minhash
  * agreement in this band's bucket), or None. */
case class BandVerdict(doc_id: Long, band: Int, dup_src: Option[Long])

/** One row per (document, peak, descriptor chunk slot) — the
  * streaming record of the LOSSY peak tier (st105): `hits` lists
  * earlier docs whose registered descriptor in this bucket sits
  * within the hamming tolerance. */
case class PeakDescHits(doc_id: Long, pk: Int, chunk: Int,
    hits: Seq[Long])

/** One string-fingerprint hit record per (document, fingerprint) —
  * the winnowing / CDC streaming tiers' record: `hits` lists every
  * earlier document sharing the fingerprint (a winnow gram md5 or a
  * CDC chunk md5). */
case class FpHits(doc_id: Long, fp: String, hits: Seq[Long])

/** Streaming NEAR-dup dedup across micro-batches — the ingest-pipeline
  * operators st65's exact `dropDuplicates` cannot express: a
  * re-delivered document that was also EDITED (tail appended, image
  * re-encoded, audio trimmed, video mirrored) hashes to a different
  * exact key but lands in the same near-dup buckets.
  *
  * Shape: every operator extracts posting keys per arrival and folds
  * each key's bucket in `flatMapGroupsWithState` state. The media
  * tiers run over the batch tier's family values
  * ([[Multimodal.Family]]), with the same `media` contract as
  * `Multimodal.pairs` / `index` / `screen` — `(doc_id, payload)` rows:
  *  - [[hits]]`(f)` keys state by the family's `keys` and emits, per
  *    landmark row, the earlier docs sharing its bucket; the consumer
  *    aggregates hits across a doc's rows into the family's match
  *    metric (shared keys over the smaller key set), so batch ==
  *    streaming is provable against one SQL replay;
  *  - [[verdicts]]`(f)` buckets a hash family's 64-bit hashes by
  *    16-bit chunk and emits, per chunk, the lowest earlier doc
  *    within hamming `maxDist`.
  * Text has [[bandVerdicts]] (MinHash bands), [[winnowVerdicts]] and
  * [[cdcChunkVerdicts]]; [[imagePeakLossyVerdicts]] keeps its own
  * per-peak matcher.
  *
  * Determinism: within a micro-batch, groups process their rows in
  * doc_id order, and a verdict consults only already-seen documents.
  * PROVIDED delivery is id-monotonic ACROSS micro-batches (each batch
  * carries higher ids than every earlier one — the append-only ingest
  * shape, and what the st gates' staged mtimes pin), the result is
  * identical however ingestion splits into batches, and equals a batch
  * run over the union. If a LOWER id arrives in a LATER batch, state
  * cannot see the future: verdicts then reflect arrival order, not id
  * order — the keep-first-SEEN semantics every streaming dedup has.
  *
  * Scale: real corpora concentrate on a few hot keys (boilerplate,
  * silence, black frames, blank thumbnails — the skew class the batch
  * tier caps with maxDf), so every operator takes a `maxBucket` cap
  * bounding both state size and per-arrival scan cost in the hot
  * bucket ([[foldHits]] / [[foldProbe]] semantics). An
  * unbounded-retention ingest would additionally swap NoTimeout for a
  * watermark/TTL past the re-delivery horizon, the same trade st65
  * documents for `dropDuplicatesWithinWatermark`.
  *
  * State-schema note: [[hits]] groups by a struct of the family's key
  * columns and [[verdicts]] by (chunk, ckey); neither state is
  * checkpoint-compatible with the per-tier tuple keys of the entry
  * points they replace, nor is [[bandVerdicts]]' packed state with the
  * pre-round-10 hex-string state. A production stream upgrading across
  * such a change restarts from a fresh checkpoint (re-delivering from
  * the re-delivery horizon), the standard trade for any
  * stateful-operator schema change. */
object StreamingNearDup {

  /** Per-bucket fold of the hit-emitting operators. `arrivals` are
    * (doc_id, registers) in (doc_id, orient|win) order (the id-ordered
    * determinism contract). Each arrival's hits are the members other
    * than itself; it then registers if `registers` (an oriented tier
    * registers only its orient-0 rows) and the doc is not a member yet.
    * `maxBucket` > 0 caps the bucket: a capped arrival emits Nil AND
    * does not register — past the cap every future emission is Nil
    * whatever the membership, so the truncation changes no output (the
    * cap spec asserts this against an unbounded reference fold) while
    * bounding both state size and per-arrival cost to O(maxBucket) in
    * the hot bucket. The length probe is paid once per invocation, not
    * per arrival. */
  private[operators] def foldHits(seen0: List[Long],
      arrivals: Seq[(Long, Boolean)],
      maxBucket: Int): (List[Long], Seq[List[Long]]) = {
    var seen = seen0
    var n = seen.size
    val out = arrivals.map { case (id, registers) =>
      val capped = maxBucket > 0 && n >= maxBucket
      val member = seen.contains(id)
      val hits = if (capped) Nil else if (member) seen.filter(_ != id) else seen
      if (!capped && registers && !member) { seen = id :: seen; n += 1 }
      hits
    }
    (seen, out)
  }

  /** Sentinel a null minhash component packs to — never produced by
    * [[packSig]] for a real component, so null-vs-anything can never
    * count as agreement (the oracle's IS NOT NULL guard). */
  private[operators] val PackedNull: Long = 0x8000000000000000L

  /** Pack a minhash signature (hex md5 strings) into one 64-bit
    * fingerprint per component for bucket state: equal components pack
    * equal, distinct components collide with probability 2^-64 per
    * comparison — far below the estimator's own band-collision noise.
    * Cuts per-member state from ~16 boxed 32-char strings (~1 KB +
    * object headers) to a 128-byte long array, and makes the agreement
    * scan a primitive loop. */
  private[operators] def packSig(sig: Seq[String]): Array[Long] = {
    val out = new Array[Long](sig.length)
    var i = 0
    while (i < sig.length) {
      val s = sig(i)
      out(i) = if (s == null) PackedNull else {
        val v = java.lang.Long.parseUnsignedLong(s.substring(0, 16), 16)
        if (v == PackedNull) v ^ 1L else v
      }
      i += 1
    }
    out
  }

  /** Per-bucket fold for the VERDICT-emitting operators
    * ([[bandVerdicts]], [[verdicts]]) — the counterpart of [[foldHits]]
    * for ops that owe every arrival an answer instead of a hit list.
    * Each arrival's verdict is the lowest current member (excluding
    * itself) whose payload `matches` its own; it then registers iff
    * `register` (orientation-tolerant ops register only the as-is
    * orientation) and the bucket is under `maxBucket`.
    *
    * Unlike [[foldHits]], a capped arrival still probes the capped
    * membership: members register in id order under the id-monotonic
    * delivery contract, so the retained members are exactly the LOWEST
    * ids — the ones a min-id verdict prefers — and what the cap
    * forgoes is only matches against members past the cap, the same
    * trade the batch tier's `maxDf` makes when it drops a hot bucket's
    * candidates. State size and per-arrival scan cost are O(maxBucket)
    * in the hot bucket (blank thumbnails / default avatars on one
    * pHash chunk, boilerplate docs in one band); 0 = uncapped. The
    * length probe is paid once per invocation, not per arrival.
    * `arrivals` must be pre-sorted (the id-ordered determinism
    * contract). */
  private[operators] def foldProbe[P](seen0: List[(Long, P)],
      arrivals: Seq[(Long, P, Boolean)], maxBucket: Int)(
      matches: (P, P) => Boolean): (List[(Long, P)], Seq[Option[Long]]) = {
    var seen = seen0
    var n = seen.size
    val out = arrivals.map { case (id, p, register) =>
      val hit = seen.collect {
        case (eid, ep) if eid != id && matches(p, ep) => eid
      } match { case Nil => None; case xs => Some(xs.min) }
      if (register && !(maxBucket > 0 && n >= maxBucket)) {
        seen = (id, p) :: seen
        n += 1
      }
      hit
    }
    (seen, out)
  }

  /** The probe tag of `rows`: `orient` (probe readouts, only orient 0
    * registers) or `win` (crop windows, all register), if any. */
  private def tagOf(rows: DataFrame): Seq[String] =
    Seq("orient", "win").filter(rows.columns.contains)

  /** Streaming near-dup hits of `media` under family `f`: one row
    * (doc_id[, orient|win], keys..., hits) per landmark row of
    * `f.landmarks`, `hits` = the earlier docs registered in its key's
    * bucket ([[foldHits]]; `maxBucket` 0 = uncapped, the oracle-exact
    * default). Oriented families (probe readout fans such as
    * [[Multimodal.ImageScaleDihedral]] or
    * [[Multimodal.VideoShiftFlip]]) probe with every readout but
    * register only orient 0, so per-doc state is that of the plain
    * tier; consumers score orient-0 rows as the denominator and the
    * best orientation's hits. Crop-window families
    * ([[Multimodal.VideoCrop]]) register every window — the fan-out is
    * the price of being crop-matchable as a future master — and
    * consumers score win = 0. */
  def hits(f: Family)(media: DataFrame, maxBucket: Int = 0): DataFrame =
    bucketHits(f.landmarks(media), f.keys, maxBucket)

  /** The [[hits]] fold's state encoder, built and resolved once per JVM:
    * Spark names the state deserializer's `MapObjects` lambda variable
    * from a JVM-wide counter when it resolves an encoder, so resolving
    * per call made each start of a gate generate new state-projection
    * source and compile it again. A resolved encoder resolves to itself. */
  private lazy val memberState: Encoder[List[Long]] =
    ExpressionEncoder[List[Long]]().resolveAndBind()

  private def bucketHits(rows: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    import rows.sparkSession.implicits._
    val tag = tagOf(rows)
    val oriented = tag == Seq("orient")
    val in = rows.select((("doc_id" +: tag) ++ keys).map(col): _*)
    val nk = 1 + tag.size
    val out = in.schema.add("hits", ArrayType(LongType, containsNull = false),
      nullable = false)
    in.groupByKey((r: Row) => Row.fromSeq(r.toSeq.drop(nk)))(
        Encoders.row(StructType(in.schema.drop(nk))))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: Row, rs: Iterator[Row], state: GroupState[List[Long]]) => {
          val sorted = rs.toSeq.sortBy(r =>
            (r.getLong(0), if (nk > 1) r.getInt(1) else 0))
          val (seen, hs) = foldHits(state.getOption.getOrElse(Nil),
            sorted.map(r => (r.getLong(0), !oriented || r.getInt(1) == 0)),
            maxBucket)
          state.update(seen)
          sorted.iterator.zip(hs.iterator)
            .map { case (r, h) => Row.fromSeq(r.toSeq :+ h) }
        })(memberState, Encoders.row(out))
  }

  /** Streaming near-dup verdicts of `media` under hash family `f`: the
    * family's 64-bit hashes bucket by 16-bit chunk — pigeonhole-complete
    * for hamming distance <= 3 — and each (chunk, value) bucket's state
    * holds the (doc_id, hash) members seen so far. One row
    * (doc_id[, orient|win], chunk, dup_src) per hash chunk: `dup_src` is
    * the lowest earlier doc within `maxDist` bits, or null
    * ([[foldProbe]]; `maxBucket` caps the hot chunk bucket, 0 =
    * uncapped). Orientation families ([[Multimodal.PHashFlip]],
    * [[Multimodal.PHashRot]], [[Multimodal.PHashDihedral]]) probe with
    * every orientation hash but register only the as-is one, so per-doc
    * state stays 4 x 16 B and same-doc orientation self-matches are
    * excluded; reduce over `orient` (min dup_src) for a per-chunk
    * verdict. [[Multimodal.PHashCrop]] registers every window hash and
    * its window-0 rows carry the crop verdict. Undecodable payloads
    * carry no hash and pass through unjudged. */
  def verdicts(f: Hashed)(media: DataFrame, maxDist: Int = f.maxDist,
      maxBucket: Int = 0): DataFrame = {
    Multimodal.requireChunkRecall(maxDist)
    val rows = f.hashes(f.landmarks(media), orient = true)
    import rows.sparkSession.implicits._
    val tag = tagOf(rows)
    val oriented = tag == Seq("orient")
    val chunked = Postings.chunks16(rows.select(col("doc_id"),
        tag.map(col).headOption.getOrElse(lit(0)).as("tag"),
        col(rows.columns.last).as("h")), "h")
      .as[(Long, Int, Long, Int, Long)]
    chunked.groupByKey { case (_, _, _, chunk, key) => (chunk, key) }
      .flatMapGroupsWithState[List[(Long, Long)], (Long, Int, Int, Option[Long])](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((chunk, _), rs, state: GroupState[List[(Long, Long)]]) =>
          val sorted = rs.toSeq.sortBy(r => (r._1, r._2))
          val (seen, vs) = foldProbe(state.getOption.getOrElse(Nil),
            sorted.map { case (id, t, h, _, _) => (id, h, !oriented || t == 0) },
            maxBucket)((h, eh) => java.lang.Long.bitCount(h ^ eh) <= maxDist)
          state.update(seen)
          sorted.iterator.zip(vs.iterator)
            .map { case ((id, t, _, _, _), v) => (id, t, chunk, v) }
      }
      .toDF("doc_id", "tag", "chunk", "dup_src")
      .select((col("doc_id") +: tag.map(col("tag").as(_))) ++
        Seq(col("chunk"), col("dup_src")): _*)
  }

  /** Streaming MinHash band dedup for edited text: text → fused
    * minhash kernel → band keys (the `minHashLshPairs` banding,
    * bit-identical) → state keyed by (band, band_key) holding each
    * member's packed signature ([[packSig]]); an arriving document is a
    * duplicate if its signature agrees with an earlier one on >=
    * `estThreshold` of the components (the standard MinHash Jaccard
    * estimator — the streaming stand-in for the batch path's exact
    * verify, which would need full texts in state). All documents
    * register, dropped or not, so chains (A<-B<-C) resolve the way the
    * batch replay does.
    *
    * `maxBucket` is the streaming analog of the batch tier's `maxDf`
    * skew cap — see [[foldProbe]] for the exact semantics (capped
    * arrivals still probe the lowest-id members; the hot boilerplate
    * band bucket stops growing). Band buckets hold one packed 128-byte
    * signature fingerprint per member, not the hex signature — ~16x
    * smaller state; a signature is still stored once per band (the
    * single-stateful-operator shape cannot share one copy across band
    * keys), which the cap bounds regardless. */
  def bandVerdicts(docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 8, rowsPerBand: Int = 2, k: Int = 3,
      estThreshold: Double = 0.5, maxBucket: Int = 0): Dataset[BandVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val numHashes = bands * rowsPerBand
    val sigs = docs.select(col(idCol).cast("long").as("doc_id"),
      TextDedup.minHashTextKernel(numHashes, k)(col(textCol)).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"), posexplode(
        array((0 until bands).map(b =>
          md5(concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))): _*)))
      .as[(Long, Seq[String], Int, String)]
    banded.groupByKey { case (_, _, band, key) => (band, key) }
      .flatMapGroupsWithState[List[(Long, Array[Long])], BandVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((band, _), rows, state: GroupState[List[(Long, Array[Long])]]) =>
          // id order makes the fold batch-boundary-independent: each
          // verdict consults only lower ids, which sort earlier here
          // and arrive in earlier micro-batches otherwise
          val arrivals = rows.toSeq.sortBy(_._1)
            .map { case (id, sig, _, _) => (id, packSig(sig), true) }
          val (seen, verdicts) = foldProbe(state.getOption.getOrElse(Nil),
            arrivals, maxBucket) { (p, ep) =>
              var eq = 0
              var i = 0
              // null components (zero-shingle docs) never match —
              // mirrors the oracle's IS NOT NULL guard
              while (i < p.length) {
                if (p(i) != PackedNull && p(i) == ep(i)) eq += 1
                i += 1
              }
              eq.toDouble / numHashes >= estThreshold
            }
          state.update(seen)
          arrivals.zip(verdicts).map { case ((id, _, _), v) =>
            BandVerdict(id, band, v)
          }.iterator
      }
  }

  /** STREAMING lossy (JPEG) arbitrary-crop image dedup — the m141
    * tier in the streaming matrix: every arrival's gray-mean peak
    * descriptors (`Multimodal.peakBlockDescriptors`, one decode)
    * register per 16-bit chunk bucket, and probe the bucket's earlier
    * entries within hamming `maxDist` (the [[verdicts]] shape with
    * per-PEAK rows); a JPEG-saved crop re-delivery lands in its
    * master's buckets. Emits [[PeakDescHits]]; consumers count
    * DISTINCT matched peaks per (doc, src) over the probe's peak
    * count (the m141 metric). Same id-monotonic determinism contract;
    * `maxBucket` caps registered entries per bucket. */
  def imagePeakLossyVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, maxDist: Int = 1, radius: Int = 2,
      patchDesc: Int = 8, maxBucket: Int = 0): Dataset[PeakDescHits] = {
    Multimodal.requireChunkRecall(maxDist)
    val spark = media.sparkSession
    import spark.implicits._
    val u = udf((p: Array[Byte]) =>
      Multimodal.peakBlockDescriptors(p, radius, patchDesc))
    val rows = media.select(col(idCol).cast("long").as("doc_id"),
        u(col(payloadCol)).as("ds"))
      .filter(col("ds").isNotNull)
      .select(col("doc_id"), explode(col("ds")).as("pd"))
      .select(col("doc_id"), col("pd._1").as("pk"), col("pd._2").as("d"))
    val chunked = Postings.chunks16(rows, "d")
      .as[(Long, Int, Long, Int, Long)]
    chunked.groupByKey { case (_, _, _, chunk, key) => (chunk, key) }
      .flatMapGroupsWithState[List[(Long, Long)], PeakDescHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((chunk, _), rows, state: GroupState[List[(Long, Long)]]) =>
          var seen = state.getOption.getOrElse(Nil)
          var n = seen.size
          val out = rows.toSeq.sortBy(r => (r._1, r._2)).map { r =>
            val capped = maxBucket > 0 && n >= maxBucket
            val hits =
              if (capped) Nil
              else seen.filter(e => e._1 != r._1 &&
                java.lang.Long.bitCount(e._2 ^ r._3) <= maxDist)
                .map(_._1).distinct
            if (!capped) { seen = (r._1, r._3) :: seen; n += 1 }
            PeakDescHits(r._1, r._2, chunk, hits)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Streaming WINNOWING ingest dedup — the sampled-overlap tier with
    * a RECALL GUARANTEE in the streaming matrix ([[bandVerdicts]]
    * estimates whole-document similarity; winnowing detects any shared
    * >= w+k-1-token RUN, the junk-embedded splice the whole-signature
    * estimator dilutes away): arriving documents winnow through the
    * SAME kernel as the batch op ([[TextDedup.winnowSelect]]) and fold
    * through the [[hits]] core keyed by fingerprint `fp`. The consumer
    * scores shared DISTINCT fingerprints >= minShared (the
    * [[TextDedup.winnowOverlapPairs]] metric). Fingerprints dedup BY
    * VALUE inside the kernel pass (one state entry per doc per bucket),
    * so no stateful `distinct` precedes the fold. Corpus-boilerplate
    * grams are the hot keys `maxBucket` caps. */
  def winnowVerdicts(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5, maxBucket: Int = 0): Dataset[FpHits] = {
    // same fail-fast contract as the batch sibling (winnowFingerprints)
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    fpHits(docs, idCol, textCol, maxBucket) { (md, text) =>
      TextDedup.winnowSelect(md, text, k, w).iterator.map(_._2)
    }
  }

  /** Streaming CDC ingest dedup — the shift-tolerant exact-span tier
    * in the streaming matrix, [[winnowVerdicts]]' byte-exact sibling:
    * arriving documents chunk through the batch kernel
    * ([[TextDedup.cdcChunksOf]] — boundaries re-synchronize at any
    * offset, so a corpus span embedded inside junk still shares its
    * interior chunks), per-chunk-hash bucket state, shared DISTINCT
    * chunks >= minShared at the consumer (the
    * [[TextDedup.cdcOverlapPairs]] metric, chunk-granular recall and
    * all). Same determinism contract and cap as [[winnowVerdicts]]. */
  def cdcChunkVerdicts(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 4, minTokens: Int = 4, nibbles: Int = 1,
      maxBucket: Int = 0): Dataset[FpHits] = {
    // same fail-fast contract as the batch sibling (cdcChunks) —
    // e.g. nibbles=16 would silently make EVERY position a boundary,
    // drop all chunks below minTokens, and dedup nothing.
    require(window >= 1 && minTokens >= 1, "window and minTokens must be >= 1")
    require(nibbles >= 1 && nibbles <= 15,
      "nibbles (boundary probability = nibbles/16) must be in 1..15")
    fpHits(docs, idCol, textCol, maxBucket) { (md, text) =>
      TextDedup.cdcChunksOf(md, text, window, minTokens, nibbles).iterator.map(_._3)
    }
  }

  /** The text tiers' shared shape: each doc's DISTINCT fingerprints
    * (`fps` over one MD5 digester per partition) folded by [[hits]]'
    * core keyed by `fp`. */
  private def fpHits(docs: DataFrame, idCol: String, textCol: String,
      maxBucket: Int)(
      fps: (java.security.MessageDigest, String) => Iterator[String]): Dataset[FpHits] = {
    import docs.sparkSession.implicits._
    val rows = docs
      .select(col(idCol).cast("long").as("_id"), col(textCol).as("_t"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) => fps(md, text).distinct.map(fp => (id, fp)) }
      }
    bucketHits(rows.toDF("doc_id", "fp"), Seq("fp"), maxBucket).as[FpHits]
  }
}
