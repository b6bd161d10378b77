package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One near-dup verdict per (document, LSH band): `dup_src` is the
  * lowest earlier document this one is a near-duplicate of (by minhash
  * agreement in this band's bucket), or None. */
case class BandVerdict(doc_id: Long, band: Int, dup_src: Option[Long])

/** One image near-dup verdict per (document, pHash chunk): `dup_src`
  * is the lowest earlier document within hamming `maxDist` of this
  * one's pHash (consulted in this chunk's bucket), or None. */
case class ChunkVerdict(doc_id: Long, chunk: Int, dup_src: Option[Long])

/** [[ChunkVerdict]] with the probing ORIENTATION (0 = as-is; flip tier:
  * 1 = mirrored; rotation tier: quarter-turns 1-3) — the record the
  * orientation-tolerant image verdict ops emit, so one (doc_id, chunk)
  * key never carries two indistinguishable verdicts: consumers that
  * want one verdict per chunk reduce over `orient` (min dup_src), and
  * consumers that care WHICH orientation landed read it directly (the
  * [[VideoLandmarkHitsO]] precedent). */
case class ChunkVerdictO(doc_id: Long, orient: Int, chunk: Int,
    dup_src: Option[Long])

/** One audio hit record per (document, fingerprint frame): `hits`
  * lists every earlier document whose fingerprint shares this frame's
  * (frame_idx, code) bucket. The dup decision (shared frames over the
  * smaller fingerprint) aggregates across a document's frames, so it
  * lives in the batch query over the sink, not in per-bucket state. */
case class FrameHits(doc_id: Long, frame_idx: Int, hits: Seq[Long])

/** One audio-landmark hit record per (document, landmark): `hits`
  * lists every earlier document sharing the positionless landmark —
  * the time-shift-tolerant streaming analog of [[FrameHits]]. */
case class LandmarkHits(doc_id: Long, lm: Long, hits: Seq[Long])

/** [[LandmarkHits]] with the probe readout's dihedral element — the
  * streaming record of the oriented peak tier (st104): orient 0 rows
  * registered state, 1-7 are probe-only readouts. */
case class LandmarkHitsO(doc_id: Long, orient: Int, lm: Long,
    hits: Seq[Long])

/** One row per (document, peak, descriptor chunk slot) — the
  * streaming record of the LOSSY peak tier (st105): `hits` lists
  * earlier docs whose registered descriptor in this bucket sits
  * within the hamming tolerance. */
case class PeakDescHits(doc_id: Long, pk: Int, chunk: Int,
    hits: Seq[Long])

/** One video-landmark hit record per (document, landmark): the
  * landmark is the pair of consecutive sampled-frame pHashes. */
case class VideoLandmarkHits(doc_id: Long, lm_a: Long, lm_b: Long,
    hits: Seq[Long])

/** One image crop-tier verdict per (document, window, pHash chunk) —
  * the streaming crop tier's record: `win` is the CANONICAL CROP
  * WINDOW (0 = the whole image — the row whose verdict says "this
  * arrival is a crop or near-dup of dup_src"; 1-6 = the master-side
  * window registrations, emitted for symmetry and ignorable).
  * Consumers score win = 0 rows. */
case class CropChunkVerdict(doc_id: Long, win: Int, chunk: Int,
    dup_src: Option[Long])

/** One string-fingerprint hit record per (document, fingerprint) —
  * the winnowing / CDC streaming tiers' record: `hits` lists every
  * earlier document sharing the fingerprint (a winnow gram md5 or a
  * CDC chunk md5). */
case class FpHits(doc_id: Long, fp: String, hits: Seq[Long])

/** [[VideoLandmarkHits]] with the probing ORIENTATION (0 = as-is,
  * 1 = mirrored) — the flip-tolerant streaming video tier's record;
  * scoring uses orient-0 rows as the landmark denominator and the best
  * orientation's hit count. */
case class VideoLandmarkHitsO(doc_id: Long, orient: Int, lm_a: Long,
    lm_b: Long, hits: Seq[Long])

/** [[VideoLandmarkHits]] with the CROP WINDOW the landmark came from
  * (0 = full-frame channel — the rows a crop verdict scores; 1-6 =
  * master-side window registrations) — the streaming crop-video
  * tier's record. */
case class VideoLandmarkHitsW(doc_id: Long, win: Int, lm_a: Long,
    lm_b: Long, hits: Seq[Long])

/** Streaming NEAR-dup dedup across micro-batches — the ingest-pipeline
  * operator st65's exact `dropDuplicates` cannot express: a re-delivered
  * document that was also EDITED (tail appended, boilerplate injected)
  * hashes to a different exact key but lands in the same MinHash band
  * buckets.
  *
  * Shape: text → fused minhash kernel → band keys (the
  * `minHashLshPairs` banding, bit-identical) → `flatMapGroupsWithState`
  * keyed by (band, band_key). Each bucket's state holds the
  * (doc_id, signature) list of every document seen; an arriving
  * document is a duplicate if its signature agrees with an earlier one
  * on >= `estThreshold` of the components (the standard MinHash Jaccard
  * estimator — the streaming stand-in for the batch path's exact
  * verify, which would need full texts in state). All documents
  * register in state, dropped or not, so chains (A<-B<-C) resolve the
  * way the batch replay does.
  *
  * Determinism: within a micro-batch, groups process their rows in
  * doc_id order, and a verdict consults only already-seen documents.
  * PROVIDED delivery is id-monotonic ACROSS micro-batches (each batch
  * carries higher ids than every earlier one — the append-only ingest
  * shape, and what st68's staged mtimes pin), the result is identical
  * however ingestion splits into batches, and equals a batch run over
  * the union (the st68 oracle replays exactly that). If a LOWER id
  * arrives in a LATER batch, state cannot see the future: verdicts
  * then reflect arrival order, not id order — the keep-first-SEEN
  * semantics every streaming dedup has.
  *
  * Scale: bands spread documents across 2^128 md5 keys, but real
  * corpora concentrate on a few hot keys (boilerplate / empty docs, the
  * skew class the batch tier caps with maxDf) — so every operator in
  * this family takes a `maxBucket` cap bounding both state size and
  * per-arrival scan cost in the hot bucket ([[foldBucket]] /
  * [[foldProbe]] semantics). An unbounded-retention ingest would
  * additionally swap NoTimeout for a watermark/TTL past the re-delivery
  * horizon, the same trade st65 documents for
  * `dropDuplicatesWithinWatermark`. */
object StreamingNearDup {

  /** Shared per-bucket state fold for the hit-emitting family
    * ([[audioVerdicts]] / [[audioLandmarkVerdicts]] /
    * [[videoLandmarkVerdicts]]): each arrival emits the members seen
    * before it, then registers. `maxBucket` > 0 caps the bucket: a
    * capped arrival emits Nil AND does not register — past the cap
    * every future emission is Nil whatever the membership, so the
    * truncation changes no output (the cap spec asserts this against
    * an unbounded reference fold) while bounding both state size and
    * per-arrival cost to O(maxBucket) in the hot silence/black bucket.
    * The length probe is paid once per invocation, not per arrival.
    * `ids` must arrive pre-sorted (the id-ordered determinism
    * contract). */
  private[operators] def foldBucket[T](seen0: List[Long], ids: Seq[Long],
      maxBucket: Int)(mk: (Long, List[Long]) => T): (List[Long], Seq[T]) = {
    var seen = seen0
    var n = seen.size
    val out = ids.map { id =>
      val capped = maxBucket > 0 && n >= maxBucket
      val hits = if (capped) Nil else seen
      if (!capped) { seen = id :: seen; n += 1 }
      mk(id, hits)
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

  /** Per-bucket fold for the VERDICT-emitting family ([[bandVerdicts]]
    * / [[pHashVerdicts]] + orientation variants) — the counterpart of
    * [[foldBucket]] for ops that owe every arrival an answer instead
    * of a hit list. Each arrival's verdict is the lowest current
    * member (excluding itself) whose payload `matches` its own; it
    * then registers iff `register` (orientation-tolerant ops register
    * only the as-is orientation) and the bucket is under `maxBucket`.
    *
    * Unlike [[foldBucket]], a capped arrival still probes the capped
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

  /** `maxBucket` is the streaming analog of the batch tier's `maxDf`
    * skew cap — see [[foldProbe]] for the exact semantics (capped
    * arrivals still probe the lowest-id members; the hot boilerplate
    * band bucket stops growing). Band buckets hold one packed
    * 128-byte signature fingerprint per member ([[packSig]]), not the
    * hex signature — ~16x smaller state; a signature is still stored
    * once per band (the single-stateful-operator shape cannot share
    * one copy across band keys), which the cap bounds regardless.
    *
    * State-schema note: the packed state is NOT checkpoint-compatible
    * with the pre-round-10 hex-string state — a production stream
    * upgrading across that boundary must restart from a fresh
    * checkpoint (re-delivering from the re-delivery horizon), the
    * standard trade for any stateful-operator schema change. */
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

  /** Streaming AUDIO near-dup detection — the audio tier of the ingest
    * ladder ([[bandVerdicts]] text, [[pHashVerdicts]] images): arriving
    * payloads fingerprint into per-frame 13-bit autocorrelation codes
    * ([[Multimodal.audioFingerprint]] — amplitude-scale invariant), and
    * each (frame_idx, code) bucket holds the doc_ids seen so far in
    * `flatMapGroupsWithState` state (8 bytes/member — each doc carries
    * at most one code per frame_idx, so at most one entry per bucket).
    * An arrival emits the earlier members as `hits`; the consumer
    * aggregates hits across frames into the aligned match fraction
    * (shared frames / smaller fingerprint), exactly the batch
    * `Multimodal.pairs(AudioCode)` metric — so batch == streaming
    * is provable against one SQL replay. Same determinism contract as
    * [[bandVerdicts]]: id-ordered fold within a batch, id-monotonic
    * delivery across batches == the batch replay.
    *
    * `maxBucket` is the streaming analog of the batch path's `maxDf`
    * skew cap: once a bucket holds that many members (silence frames —
    * real audio codes constant regions to one hot code), later arrivals
    * emit no hits AND stop registering — past the cap every future
    * emission is Nil whatever the membership, so truncating state
    * changes no output (the cap spec asserts exactly this) while
    * bounding both state size and per-arrival fold cost to O(maxBucket)
    * in the hot bucket. 0 = uncapped (the oracle-exact default). */
  def audioVerdicts(media: DataFrame, idCol: String, payloadCol: String,
      maxBucket: Int = 0): Dataset[FrameHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val codes = Multimodal.audioFingerprint(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")))
    codes.groupByKey(c => (c.frame_idx, c.code))
      .flatMapGroupsWithState[List[Long], FrameHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((frameIdx, _), rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_.doc_id).sorted, maxBucket)(
            (id, hits) => FrameHits(id, frameIdx, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** [[audioVerdicts]] at the SPECTRAL seam — streaming ALIGNED dedup
    * for the fractionally-resampled re-delivery (the m106 tier in the
    * streaming matrix, completing the 2x2 of {integer, spectral} x
    * {aligned, landmark} with st73/st74/st82): state keys on
    * (frame_idx, spectral code) — the codes are rate-free
    * (`Multimodal.audioSpectralCodes`), so a 44.1 kHz re-delivery of
    * an 8 kHz master lands in identical buckets. Same determinism
    * contract, [[FrameHits]] record, consumer scoring (shared frames
    * over the smaller code sequence), and `maxBucket` /
    * [[foldBucket]] cap as [[audioVerdicts]]. */
  def audioSpectralVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, maxBucket: Int = 0): Dataset[FrameHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val codes = Multimodal.audioSpectralCodes(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")))
    codes.groupByKey(c => (c.frame_idx, c.code))
      .flatMapGroupsWithState[List[Long], FrameHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((frameIdx, _), rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_.doc_id).sorted, maxBucket)(
            (id, hits) => FrameHits(id, frameIdx, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** Streaming audio near-dup under TIME SHIFT — [[audioVerdicts]]'s
    * aligned matching misses a trimmed/padded re-upload entirely, so
    * this variant keys state by [[Multimodal.audioLandmarks]]'s
    * positionless (code, next-code) landmarks instead: per-`lm` bucket
    * state holds the doc_ids seen (8 bytes/member, one entry per doc —
    * landmarks are distinct per doc at the source), arrivals emit
    * earlier sharers, and the consumer scores shared distinct
    * landmarks over the smaller landmark set (the batch
    * `Multimodal.pairs(AudioLandmark())` metric, minMatch 0.6 there).
    * `maxBucket` caps the universal-landmark hot key — silence codes
    * to 0 and the (0,0) landmark's bucket otherwise holds the whole
    * corpus. Same id-monotonic determinism contract as the rest of the
    * family. */
  def audioLandmarkVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, gap: Int = 1,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.audioLandmarks(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), gap)
    lms.groupByKey(_.lm)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_.doc_id).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** [[audioLandmarkVerdicts]] at the SPECTRAL seam — the streaming
    * member of the m110 tier: state keys on
    * `Multimodal.audioSpectralLandmarks`' rate-free (code, next-code)
    * landmarks, so a re-delivery that was TRIMMED and FRACTIONALLY
    * RESAMPLED at once — invisible to both the integer landmark tier
    * (no common samples) and the aligned spectral tier (shifted frame
    * indexes) — still lands in its master's buckets. Same
    * id-monotonic determinism contract, [[LandmarkHits]] record, and
    * `maxBucket` / [[foldBucket]] cap as the integer sibling. */
  def audioSpectralLandmarkVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, gap: Int = 1,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.audioSpectralLandmarks(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), gap)
    lms.groupByKey(_.lm)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_.doc_id).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** [[audioSpectralLandmarkVerdicts]] at the ONSET seam — the
    * streaming member of the m115 tier: state keys on
    * `Multimodal.spectralOnsetLandmarks`' onset-anchored packed
    * joint-code landmarks (one per onset), so a re-delivery trimmed at an ARBITRARY offset (a
    * multiple of no hop) and fractionally resampled — which every
    * grid-anchored streaming tier is blind to — still lands in its
    * master's buckets: onsets travel with the content. Same
    * id-monotonic determinism contract, [[LandmarkHits]] record, and
    * `maxBucket` / [[foldBucket]] cap as the spectral sibling;
    * silence-free audio emits no landmarks and simply passes through
    * (the grid tiers cover it). */
  def audioOnsetLandmarkVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, codesPerOnset: Int = 2,
      maxBucket: Int = 0, thresholdFrac: Double = 0.0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.spectralOnsetLandmarks(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), codesPerOnset,
      thresholdFrac = thresholdFrac)
    lms.groupByKey(_.lm)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_.doc_id).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** [[audioOnsetLandmarkVerdicts]] with the ROLLING-RMS detector —
    * the streaming member of the m119 tier: state keys on
    * `Multimodal.spectralOnsetLandmarksRolling`'s packed joint-code
    * landmarks, whose onsets fire at `ratio` x the trailing-RMS floor
    * instead of a fixed or peak-relative threshold — so a NOISY-FLOOR
    * re-delivery (hum / room tone under the beat structure), which
    * both threshold streaming tiers structurally miss (no
    * sub-threshold span anywhere, zero landmarks), still lands in its
    * master's buckets at any trim offset and mux rate. Landmark
    * values are comparable with the threshold tier's (shared packing
    * kernel). Same id-monotonic determinism contract,
    * [[LandmarkHits]] record, and `maxBucket` / [[foldBucket]] cap as
    * the family. */
  def audioOnsetLandmarkVerdictsRolling(media: DataFrame, idCol: String,
      payloadCol: String, codesPerOnset: Int = 2, ratio: Double = 3.0,
      rmsMs: Int = 24, minGapMs: Int = 48, minAbs: Int = 64,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.spectralOnsetLandmarksRolling(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), codesPerOnset, ratio, rmsMs,
      minGapMs, minAbs)
    lms.groupByKey(_.lm)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_.doc_id).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** [[audioOnsetLandmarkVerdicts]] at the PITCH-CLASS seam — the
    * streaming member of the m124 tier: state keys on
    * `Multimodal.chromaOnsetLandmarks`' constant-Q chroma codes, so a
    * METRONOMIC re-delivery shifted by integer semitones (pitch or
    * speed) — degenerate for the interval streaming tier (zero timing
    * entropy) and invisible to every fixed-Hz spectral streaming
    * tier — still lands in its master's buckets. 13-bit codes are
    * coarse keys, so real corpora make hot buckets: run with
    * `maxBucket` ON (the [[foldBucket]] cap bounds state and emission
    * per code). Same id-monotonic determinism contract and
    * [[LandmarkHits]] record as the family. */
  def audioChromaLandmarkVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, cyc: Int = 12, div: Int = 12,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.chromaOnsetLandmarks(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), cyc, div = div)
    lms.groupByKey(_.lm)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_.doc_id).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** STREAMING crop+RESIZE image dedup — the similarity-invariant
    * constellation tier (m143) in the streaming matrix: every
    * arrival's coarse-peak triple codes
    * (`Multimodal.imageScaleLandmarks`, one decode) key bucket state,
    * so a later re-delivery cropped at ANY offset AND uniformly
    * rescaled — the compound every exact-pixel streaming tier (st101/
    * st104/st105) is structurally blind to — lands in its master's
    * buckets up to quantization jitter. Emits [[LandmarkHits]];
    * consumers score shared distinct landmarks over the smaller set
    * at the tier's LOWER default threshold (~0.3 — resampling flips
    * some codes, the m120 robustness model). Same id-monotonic
    * determinism contract and `maxBucket` / [[foldBucket]] cap as the
    * family. */
  def imageScaleVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.imageScaleLandmarks(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), kTop, nNear, qStepR, nAng,
      smoothR, radius, minAvg)
      .as[(Long, Long)]
    lms.groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_._1).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** STREAMING unknown-strong-squeeze dedup — the CANONICAL tier
    * (m165) in the streaming matrix: every arrival fingerprints on
    * its moment-isotropic rendering
    * (`Multimodal.imageScaleLandmarksCanonical` — squeeze estimate +
    * one deterministic bilinear resample, then one detection pass),
    * so a later re-delivery squeezed by an UNKNOWN >= ~1.5:1 factor —
    * where the aspect-hypothesis streaming tier is blind (the factor
    * is not in its set) and squeeze-merged blobs break the
    * cloud-normalized geometry — lands in its master's buckets. Emits
    * [[LandmarkHits]]; consumers score shared distinct landmarks over
    * the smaller set at the tier's 0.3 gate. Same id-monotonic
    * determinism contract and `maxBucket` / [[foldBucket]] cap as the
    * family. */
  def imageCanonicalVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.imageScaleLandmarksCanonical(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), kTop, nNear, qStepR, nAng,
      smoothR, radius, minAvg)
      .as[(Long, Long)]
    lms.groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_._1).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** STREAMING full-affine image dedup — the m169 tier in the
    * streaming matrix: every arrival fingerprints on its
    * symmetric-whitened rendering
    * (`Multimodal.imageScaleLandmarksAffine` — one closed-form
    * whitening resample, then rot-invariant codes), so a later
    * re-delivery rotated AND squeezed by unknown factors lands in its
    * master's buckets where every prior streaming tier is blind.
    * Emits [[LandmarkHits]]; consumers score at the tier's 0.25 gate.
    * Same contract and `maxBucket` cap as the family. */
  def imageAffineVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.imageScaleLandmarksAffine(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), kTop, nNear, qStepR, nAng,
      smoothR, radius, minAvg)
      .as[(Long, Long)]
    lms.groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_._1).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** STREAMING unknown-anamorphic VIDEO dedup — the m167 tier in the
    * streaming matrix: every arriving video pools canonical
    * (moment-isotropic per frame) constellation codes
    * (`Multimodal.videoScaleLandmarksCanonical`, one container walk)
    * into bucket state, so an anamorphic rip at an UNKNOWN factor
    * lands in its master's buckets where the aspect-fan streaming
    * tier is blind. Emits [[LandmarkHits]]; consumers score at the
    * canonical tier's 0.3 gate. Same contract and `maxBucket` cap as
    * the family. */
  def videoCanonicalVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, every: Int = 2, kTop: Int = 16,
      nNear: Int = 8, qStepR: Double = 0.15, nAng: Int = 24,
      smoothR: Int = 4, radius: Int = 6, minAvg: Int = 24,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.videoScaleLandmarksCanonical(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), every, kTop, nNear, qStepR,
      nAng, smoothR, radius, minAvg)
      .as[(Long, Long)]
    lms.groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_._1).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** STREAMING aspect-squeeze dedup — the m152 tier in the streaming
    * matrix: every arrival probes quad-code buckets with its
    * aspect-HYPOTHESIS readouts (`Multimodal.imageScaleLandmarksAspect`
    * — peak detection once, hypotheses transform geometry only), but
    * only the identity readout (orient 0, hyps(0)=1.0) enters state,
    * so per-doc state is unchanged and a 4:3<->16:9 re-delivery lands
    * at the hypothesis undoing the squeeze. Emits [[LandmarkHitsO]];
    * same id-monotonic determinism contract and `maxBucket` cap as
    * the family. */
  def imageScaleVerdictsAspect(media: DataFrame, idCol: String,
      payloadCol: String,
      hyps: Seq[Double] = Seq(1.0, 0.75, 4.0 / 3.0), kTop: Int = 16,
      nNear: Int = 8, qStepR: Double = 0.15, nAng: Int = 24,
      smoothR: Int = 4, radius: Int = 6, minAvg: Int = 24,
      maxBucket: Int = 0): Dataset[LandmarkHitsO] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.imageScaleLandmarksAspect(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), hyps, kTop, nNear, qStepR,
      nAng, smoothR, radius, minAvg)
      .as[(Long, Int, Long)]
    lms.groupByKey(_._3)
      .flatMapGroupsWithState[List[Long], LandmarkHitsO](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          var seen = state.getOption.getOrElse(Nil)
          var n = seen.size
          val out = rows.toSeq.sortBy(r => (r._1, r._2)).map { r =>
            val capped = maxBucket > 0 && n >= maxBucket
            val hits = if (capped) Nil else seen.filter(_ != r._1)
            if (!capped && r._2 == 0 && !seen.contains(r._1)) {
              seen = r._1 :: seen; n += 1
            }
            LandmarkHitsO(r._1, r._2, lm, hits)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** STREAMING arbitrary-angle rotation dedup — the m150 tier in the
    * streaming matrix: every arrival's ROTATION-invariant
    * constellation codes (`Multimodal.imageRotScaleLandmarks`, one
    * decode) key bucket state, so a later re-delivery rotated at ANY
    * angle (a 3-degree scan skew or a 33-degree tilt alike) and
    * rescaled lands in its master's buckets — the class the dihedral
    * streaming fan (st107, 90-degree grid) is structurally blind to.
    * Emits [[LandmarkHits]]; same id-monotonic determinism contract
    * and `maxBucket` cap as the family. */
  def imageRotScaleVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.imageRotScaleLandmarks(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), kTop, nNear, qStepR, nAng,
      smoothR, radius, minAvg)
      .as[(Long, Long)]
    lms.groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_._1).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** [[imageScaleVerdicts]] extended to the FULL similarity
    * compound — the m145 tier in the streaming matrix: every arrival
    * probes constellation buckets with all 8 dihedral ANGLE-readouts
    * (`Multimodal.imageScaleLandmarksOriented`, one decode and one
    * peak-detection pass — only angles/chirality transform), but only
    * orient-0 codes enter state, so per-doc state is unchanged and a
    * re-delivery that is rotated/mirrored AND cropped AND rescaled
    * lands in its master's buckets at the element undoing the
    * transform. Emits [[LandmarkHitsO]]; same id-monotonic
    * determinism contract and `maxBucket` cap as the family. */
  def imageScaleVerdictsDihedral(media: DataFrame, idCol: String,
      payloadCol: String, kTop: Int = 16, nNear: Int = 8,
      qStepR: Double = 0.15, nAng: Int = 24, smoothR: Int = 4,
      radius: Int = 6, minAvg: Int = 24,
      maxBucket: Int = 0): Dataset[LandmarkHitsO] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.imageScaleLandmarksOriented(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), kTop, nNear, qStepR, nAng,
      smoothR, radius, minAvg)
      .as[(Long, Int, Long)]
    lms.groupByKey(_._3)
      .flatMapGroupsWithState[List[Long], LandmarkHitsO](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          var seen = state.getOption.getOrElse(Nil)
          var n = seen.size
          val out = rows.toSeq.sortBy(r => (r._1, r._2)).map { r =>
            val capped = maxBucket > 0 && n >= maxBucket
            val hits = if (capped) Nil else seen.filter(_ != r._1)
            if (!capped && r._2 == 0 && !seen.contains(r._1)) {
              seen = r._1 :: seen; n += 1
            }
            LandmarkHitsO(r._1, r._2, lm, hits)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** STREAMING arbitrary-offset crop image dedup — the m136
    * peak-patch tier in the streaming matrix: every arrival's
    * content-anchored peak-patch landmarks
    * (`Multimodal.imagePeakLandmarks`, one decode) key bucket state,
    * so a later re-delivery cropped at ANY offset — the class the
    * canonical-window streaming tier (st96) is structurally blind
    * to — lands bit-exactly in its master's buckets. Emits
    * [[LandmarkHits]]; consumers score shared distinct landmarks over
    * the smaller set (the m136 metric). Same id-monotonic determinism
    * contract and `maxBucket` / [[foldBucket]] cap as the family. */
  def imagePeakVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, radius: Int = 2, patch: Int = 4, k: Int = 0,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.imagePeakLandmarks(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), radius, patch, k)
      .as[(Long, Long)]
    lms.groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_._1).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** STREAMING arbitrary-offset crop VIDEO dedup — the m138 tier in
    * the streaming matrix: every arrival's pooled per-frame
    * peak-patch landmarks (`Multimodal.videoPeakLandmarks`, one
    * decode per sampled frame) key bucket state, so a later
    * re-delivery cropped at ANY offset (and trimmed) lands bit-
    * exactly in its master's buckets — the class both the whole-frame
    * streaming tiers and the canonical-window streaming tier (st97/
    * st99) are blind to. Emits [[LandmarkHits]]; same contract as
    * [[imagePeakVerdicts]]. */
  def videoPeakVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, every: Int = 2, radius: Int = 2,
      patch: Int = 4, k: Int = 0,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.videoPeakLandmarks(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), every, radius, patch, k)
      .as[(Long, Long)]
    lms.groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_._1).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** STREAMING crop+RESIZE video dedup — the m147 tier in the
    * streaming matrix: every arrival's pooled per-frame constellation
    * codes (`Multimodal.videoScaleLandmarks`, one container walk)
    * key bucket state, so a later re-delivery cropped at any offset
    * AND rescaled (+trimmed) lands in its master's buckets up to
    * quantization jitter — the class the exact-pixel video peak
    * stream (st102) is structurally blind to. Emits [[LandmarkHits]];
    * consumers score at the scale tier's lower threshold. Same
    * id-monotonic determinism contract and `maxBucket` cap as the
    * family. */
  def videoScaleVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, every: Int = 2, kTop: Int = 16,
      nNear: Int = 8, qStepR: Double = 0.15, nAng: Int = 24,
      smoothR: Int = 4, radius: Int = 6, minAvg: Int = 24,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.videoScaleLandmarks(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), every, kTop, nNear, qStepR,
      nAng, smoothR, radius, minAvg)
      .as[(Long, Long)]
    lms.groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_._1).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** STREAMING anamorphic video dedup — the m156 tier in the
    * streaming matrix: every arrival probes quad-code buckets with
    * its pooled per-frame aspect-HYPOTHESIS readouts
    * (`Multimodal.videoScaleLandmarksAspect`), but only the identity
    * readout enters state; an anamorphic re-delivery lands at the
    * hypothesis undoing its squeeze. Emits [[LandmarkHitsO]]; same
    * id-monotonic determinism contract and `maxBucket` cap as the
    * family. */
  def videoScaleVerdictsAspect(media: DataFrame, idCol: String,
      payloadCol: String,
      hyps: Seq[Double] = Seq(1.0, 0.75, 4.0 / 3.0), every: Int = 2,
      kTop: Int = 16, nNear: Int = 8, qStepR: Double = 0.15,
      nAng: Int = 24, smoothR: Int = 4, radius: Int = 6,
      minAvg: Int = 24, maxBucket: Int = 0): Dataset[LandmarkHitsO] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.videoScaleLandmarksAspect(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), hyps, every, kTop, nNear,
      qStepR, nAng, smoothR, radius, minAvg)
      .as[(Long, Int, Long)]
    lms.groupByKey(_._3)
      .flatMapGroupsWithState[List[Long], LandmarkHitsO](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          var seen = state.getOption.getOrElse(Nil)
          var n = seen.size
          val out = rows.toSeq.sortBy(r => (r._1, r._2)).map { r =>
            val capped = maxBucket > 0 && n >= maxBucket
            val hits = if (capped) Nil else seen.filter(_ != r._1)
            if (!capped && r._2 == 0 && !seen.contains(r._1)) {
              seen = r._1 :: seen; n += 1
            }
            LandmarkHitsO(r._1, r._2, lm, hits)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** STREAMING any-angle-rotated video dedup — the m154 tier in the
    * streaming matrix: every arrival's pooled per-frame ROTATION-
    * invariant constellation codes (`Multimodal.videoRotScaleLandmarks`,
    * one container walk) key bucket state, so a later re-delivery
    * rotated at ANY angle (the sideways-phone class), rescaled and/or
    * trimmed lands in its master's buckets. Emits [[LandmarkHits]];
    * consumers score at the rot tier's 0.2 gate. Same id-monotonic
    * determinism contract and `maxBucket` cap as the family. */
  def videoRotScaleVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, every: Int = 2, kTop: Int = 16,
      nNear: Int = 8, qStepR: Double = 0.15, nAng: Int = 24,
      smoothR: Int = 4, radius: Int = 6, minAvg: Int = 24,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.videoRotScaleLandmarks(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), every, kTop, nNear, qStepR,
      nAng, smoothR, radius, minAvg)
      .as[(Long, Long)]
    lms.groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_._1).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** [[imagePeakVerdicts]] extended to the ROTATED/MIRRORED +
    * arbitrary-crop compound — the m140 tier in the streaming matrix:
    * every arrival probes landmark buckets with all 8 dihedral patch
    * READOUTS (`Multimodal.imagePeakLandmarksOriented`, one decode —
    * peak detection is dihedral-invariant), but only orient-0
    * landmarks enter state, so per-doc state is unchanged and a
    * rotated crop re-delivery lands in its master's buckets at the
    * element undoing the transform. Same-doc orientation self-matches
    * excluded; same id-monotonic determinism contract and `maxBucket`
    * cap as the family. */
  def imagePeakVerdictsDihedral(media: DataFrame, idCol: String,
      payloadCol: String, radius: Int = 2, patch: Int = 4,
      maxBucket: Int = 0): Dataset[LandmarkHitsO] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.imagePeakLandmarksOriented(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), radius, patch)
      .as[(Long, Int, Long)]
    lms.groupByKey(_._3)
      .flatMapGroupsWithState[List[Long], LandmarkHitsO](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          var seen = state.getOption.getOrElse(Nil)
          var n = seen.size
          val out = rows.toSeq.sortBy(r => (r._1, r._2)).map { r =>
            val capped = maxBucket > 0 && n >= maxBucket
            val hits = if (capped) Nil else seen.filter(_ != r._1)
            if (!capped && r._2 == 0 && !seen.contains(r._1)) {
              seen = r._1 :: seen; n += 1
            }
            LandmarkHitsO(r._1, r._2, lm, hits)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** STREAMING lossy (JPEG) arbitrary-crop image dedup — the m141
    * tier in the streaming matrix: every arrival's gray-mean peak
    * descriptors (`Multimodal.peakBlockDescriptors`, one decode)
    * register per 16-bit chunk bucket, and probe the bucket's earlier
    * entries within hamming `maxDist` (the pHash streaming shape with
    * per-PEAK rows); a JPEG-saved crop re-delivery lands in its
    * master's buckets. Emits [[PeakDescHits]]; consumers count
    * DISTINCT matched peaks per (doc, src) over the probe's peak
    * count (the m141 metric). Same id-monotonic determinism contract;
    * `maxBucket` caps registered entries per bucket. */
  def imagePeakLossyVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, maxDist: Int = 1, radius: Int = 2,
      patchDesc: Int = 8, maxBucket: Int = 0): Dataset[PeakDescHits] = {
    require(maxDist < 4, "4 x 16-bit chunks guarantee recall only for maxDist <= 3")
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

  /** [[audioOnsetLandmarkVerdicts]] at the INTERVAL-RATIO seam — the
    * streaming member of the m120 tier: state keys on
    * `Multimodal.onsetIntervalLandmarks`' packed ratio-window
    * landmarks, so a re-delivery SPED UP or TIME-STRETCHED by a
    * uniform factor — which shifts both the onset grid and every
    * tone's pitch, blinding all spectral streaming tiers (grid AND
    * onset-anchored) — still lands in its master's buckets: ratios of
    * successive inter-onset intervals ride through speed, stretch,
    * trim, mux rate, and level together. Same id-monotonic
    * determinism contract, [[LandmarkHits]] record, and `maxBucket` /
    * [[foldBucket]] cap as the family; metronomic audio (equal
    * intervals — no timing entropy) passes through to the spectral
    * tiers. */
  def audioIntervalLandmarkVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, nRatios: Int = 5, qStep: Double = 0.2,
      maxBucket: Int = 0): Dataset[LandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.onsetIntervalLandmarks(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), nRatios, qStep)
    lms.groupByKey(_.lm)
      .flatMapGroupsWithState[List[Long], LandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (lm, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_.doc_id).sorted, maxBucket)(
            (id, hits) => LandmarkHits(id, lm, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** Streaming WINNOWING ingest dedup — the sampled-overlap tier with
    * a RECALL GUARANTEE in the streaming matrix (st68's MinHash bands
    * estimate whole-document similarity; winnowing detects any shared
    * >= w+k-1-token RUN, the junk-embedded splice st68's
    * whole-signature estimator dilutes away): arriving documents
    * winnow through the SAME kernel as the batch op
    * ([[TextDedup.winnowSelect]]), per-fingerprint bucket state holds
    * the doc_ids seen, and arrivals emit earlier sharers. The consumer
    * scores shared DISTINCT fingerprints >= minShared (the
    * [[TextDedup.winnowOverlapPairs]] metric). Fingerprints dedup
    * BY VALUE inside the kernel pass (one state entry per doc per
    * bucket — a fingerprint selected at several positions registers
    * once), so no stateful `distinct` precedes the fold. Same
    * id-monotonic determinism contract and [[foldBucket]] `maxBucket`
    * cap (corpus-boilerplate grams are the hot keys) as the family. */
  def winnowVerdicts(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5, maxBucket: Int = 0): Dataset[FpHits] = {
    // same fail-fast contract as the batch sibling (winnowFingerprints)
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val fps = docs
      .select(col(idCol).cast("long").as("_id"), col(textCol).as("_t"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) =>
          TextDedup.winnowSelect(md, text, k, w)
            .iterator.map(_._2).distinct.map(fp => (id, fp))
        }
      }
    fps.groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], FpHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (fp, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_._1).sorted, maxBucket)(
            (id, hits) => FpHits(id, fp, hits))
          state.update(seen)
          out.iterator
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
    * all). Same determinism contract and cap as the family. */
  def cdcChunkVerdicts(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 4, minTokens: Int = 4, nibbles: Int = 1,
      maxBucket: Int = 0): Dataset[FpHits] = {
    // same fail-fast contract as the batch sibling (cdcChunks) —
    // e.g. nibbles=16 would silently make EVERY position a boundary,
    // drop all chunks below minTokens, and dedup nothing.
    require(window >= 1 && minTokens >= 1, "window and minTokens must be >= 1")
    require(nibbles >= 1 && nibbles <= 15,
      "nibbles (boundary probability = nibbles/16) must be in 1..15")
    val spark = docs.sparkSession
    import spark.implicits._
    val chs = docs
      .select(col(idCol).cast("long").as("_id"), col(textCol).as("_t"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) =>
          TextDedup.cdcChunksOf(md, text, window, minTokens, nibbles)
            .iterator.map(_._3).distinct.map(ch => (id, ch))
        }
      }
    chs.groupByKey(_._2)
      .flatMapGroupsWithState[List[Long], FpHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (ch, rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_._1).sorted, maxBucket)(
            (id, hits) => FpHits(id, ch, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** Streaming VIDEO near-dup under TIME SHIFT — the video analog of
    * [[audioLandmarkVerdicts]], completing the streaming dedup matrix
    * (text bands / image chunks / audio aligned / audio landmarks /
    * video landmarks): state keys on
    * [[Multimodal.videoLandmarks]]'s consecutive-sampled-pHash pairs,
    * so a re-upload with leading frames cut — invisible to any
    * aligned matching — still lands in its original's buckets. Same
    * bounded state (8 bytes/member, one entry per doc per landmark —
    * distinct at the source), same id-monotonic determinism contract,
    * same `maxBucket` cap for the repeated black/title-frame landmark
    * every real corpus has. */
  def videoLandmarkVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, every: Int = 2,
      maxBucket: Int = 0): Dataset[VideoLandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.videoLandmarks(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), every)
    lms.groupByKey(l => (l.lm_a, l.lm_b))
      .flatMapGroupsWithState[List[Long], VideoLandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((a, b), rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_.doc_id).sorted, maxBucket)(
            (id, hits) => VideoLandmarkHits(id, a, b, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** [[videoLandmarkVerdicts]] at the SKIP-LANDMARK seam — the
    * streaming member of the m122 tier: state keys on
    * [[Multimodal.videoLandmarksSkip]]'s run-collapsed gap-pair
    * landmarks, so a re-delivery that was FRAME-RATE CONVERTED
    * (frames dropped on a down-conversion, duplicated on an
    * up-conversion — either of which flips the sampling parity the
    * consecutive-pair streaming tier depends on) still lands in its
    * master's buckets: duplication collapses away and drops bridge
    * through the gap-2 pairs. Same id-monotonic determinism contract,
    * [[VideoLandmarkHits]] record, and `maxBucket` / [[foldBucket]]
    * cap as the consecutive sibling; consumers scoring against the
    * m122 metric should keep minMatch at or below the 0.773585
    * down-conversion floor. */
  def videoSkipLandmarkVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, gap: Int = 2, every: Int = 1,
      maxBucket: Int = 0): Dataset[VideoLandmarkHits] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.videoLandmarksSkip(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), gap, every)
    lms.groupByKey(l => (l.lm_a, l.lm_b))
      .flatMapGroupsWithState[List[Long], VideoLandmarkHits](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((a, b), rows, state: GroupState[List[Long]]) =>
          val (seen, out) = foldBucket(state.getOption.getOrElse(Nil),
            rows.toSeq.map(_.doc_id).sorted, maxBucket)(
            (id, hits) => VideoLandmarkHits(id, a, b, hits))
          state.update(seen)
          out.iterator
      }
  }

  /** [[videoLandmarkVerdicts]] at the CROP-WINDOW seam — the
    * streaming member of the m130 tier: every arrival registers ALL
    * seven per-frame window channels' landmarks
    * (`Multimodal.videoLandmarksCrop`, one decode per frame) into
    * bucket state — the 7x fan-out is the price of being
    * crop-matchable as a future master — so a later re-delivery
    * cropped to a canonical window, whose full-frame channel every
    * whole-frame streaming video tier cannot see at all, lands in
    * its master's window-channel buckets bit-exactly. Emits
    * [[VideoLandmarkHitsW]]; consumers score win = 0 rows against
    * the probe's full-frame channel count (the m130 per-channel
    * metric). Same id-monotonic determinism contract and `maxBucket`
    * / [[foldBucket]] cap as the family. `extended = true` registers
    * the thirds channels (windows 7-15) per arrival — rule-of-thirds
    * recomposition re-deliveries land where the base window state is
    * structurally blind. */
  def videoCropLandmarkVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, every: Int = 2,
      maxBucket: Int = 0, extended: Boolean = false): Dataset[VideoLandmarkHitsW] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.videoLandmarksCrop(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), every, extended)
    lms.groupByKey(l => (l.lm_a, l.lm_b))
      .flatMapGroupsWithState[List[Long], VideoLandmarkHitsW](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((a, b), rows, state: GroupState[List[Long]]) =>
          val rs = rows.toSeq.sortBy(r => (r.doc_id, r.win))
          var seen = state.getOption.getOrElse(Nil)
          var n = seen.size
          val out = rs.map { r =>
            val capped = maxBucket > 0 && n >= maxBucket
            val hits =
              if (capped) Nil else seen.filter(_ != r.doc_id).distinct
            if (!capped && !seen.contains(r.doc_id)) {
              seen = r.doc_id :: seen
              n += 1
            }
            VideoLandmarkHitsW(r.doc_id, r.win, a, b, hits)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** [[videoLandmarkVerdicts]] tolerant to HORIZONTAL MIRRORING — the
    * streaming flip tier for video: every arrival probes landmark
    * buckets with BOTH orientations' landmark sets (one decode via
    * `Multimodal.videoLandmarksOriented`), but only orient-0 (as-is)
    * landmarks enter state — per-doc state is unchanged, and a
    * mirrored (even trimmed) re-upload's orient-1 landmarks land
    * exactly in its source's buckets when the mirror is lossless.
    * Emission carries `orient`, so the batch scoring can use the
    * orient-0 row count as the landmark denominator and take the best
    * orientation's hit count (a symmetric-frame doc never self-matches
    * — same-doc hits are filtered). */
  def videoLandmarkVerdictsFlipTolerant(media: DataFrame, idCol: String,
      payloadCol: String, every: Int = 2,
      maxBucket: Int = 0): Dataset[VideoLandmarkHitsO] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.videoLandmarksOriented(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), every)
    lms.groupByKey(l => (l.lm_a, l.lm_b))
      .flatMapGroupsWithState[List[Long], VideoLandmarkHitsO](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((a, b), rows, state: GroupState[List[Long]]) =>
          var seen = state.getOption.getOrElse(Nil)
          var n = seen.size
          val out = rows.toSeq.sortBy(r => (r.doc_id, r.orient)).map { r =>
            val capped = maxBucket > 0 && n >= maxBucket
            val hits = if (capped) Nil else seen.filter(_ != r.doc_id)
            if (!capped && r.orient == 0) { seen = r.doc_id :: seen; n += 1 }
            VideoLandmarkHitsO(r.doc_id, r.orient, a, b, hits)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** [[videoLandmarkVerdictsFlipTolerant]] extended to the FULL
    * dihedral-8 orientation set — the streaming member of the m111
    * tier: every arrival probes landmark buckets with all eight
    * orientations' landmark sets (one decode via
    * `Multimodal.videoLandmarksDihedral`), only orient-0 landmarks
    * enter state, so a re-delivery that was trimmed AND rotated (or
    * rotate+mirrored) lands in its source's buckets. Same record
    * shape, scoring contract (orient-0 denominator, best-orientation
    * hit count), and `maxBucket` cap as the flip variant. */
  def videoLandmarkVerdictsDihedral(media: DataFrame, idCol: String,
      payloadCol: String, every: Int = 2,
      maxBucket: Int = 0): Dataset[VideoLandmarkHitsO] = {
    val spark = media.sparkSession
    import spark.implicits._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val lms = Multimodal.videoLandmarksDihedral(
      media.select(col(idCol).cast("long").as("doc_id"),
        col(payloadCol).as("payload")), every)
    lms.groupByKey(l => (l.lm_a, l.lm_b))
      .flatMapGroupsWithState[List[Long], VideoLandmarkHitsO](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((a, b), rows, state: GroupState[List[Long]]) =>
          var seen = state.getOption.getOrElse(Nil)
          var n = seen.size
          val out = rows.toSeq.sortBy(r => (r.doc_id, r.orient)).map { r =>
            val capped = maxBucket > 0 && n >= maxBucket
            val hits = if (capped) Nil else seen.filter(_ != r.doc_id)
            if (!capped && r.orient == 0) { seen = r.doc_id :: seen; n += 1 }
            VideoLandmarkHitsO(r.doc_id, r.orient, a, b, hits)
          }
          state.update(seen)
          out.iterator
      }
  }

  /** [[pHashVerdictsFlipTolerant]]'s ROTATION sibling: every arrival
    * probes the bucket state with its four quarter-turn hashes
    * (`Multimodal.pHash64Rots`, one decode), but only the as-is hash
    * enters state — per-doc state stays 4 x 16 B, and a phone-rotated
    * repost's rotated-hash chunks land exactly in its source's
    * buckets. Same-doc orientation self-matches are excluded
    * (rotationally symmetric images share orientation hashes). Emits
    * one [[ChunkVerdictO]] per (doc, orientation, chunk) — `orient`
    * disambiguates the four probes of a chunk slot, so no two rows
    * share a full key; reduce over `orient` (min dup_src) for a
    * per-chunk verdict. `maxBucket` caps the hot chunk bucket
    * ([[foldProbe]] semantics); 0 = uncapped. */
  /** The full DIHEDRAL-8 streaming image tier — closes the compound
    * hole where a rot90+mirror (or vertical-flip) repost evades BOTH
    * [[pHashVerdictsFlipTolerant]] and [[pHashVerdictsRotTolerant]]:
    * every arrival probes with all eight orientation hashes
    * (`Multimodal.pHash64Dihedral`, one decode — orient 0-3 the
    * quarter turns, 4-7 the mirrored quarter turns), but only the
    * as-is hash enters state, so per-doc state stays 4 x 16 B
    * regardless of probe width. Same id-monotonic determinism
    * contract, [[ChunkVerdictO]] record shape, and `maxBucket` /
    * [[foldProbe]] cap semantics as the single-trick variants. */
  def pHashVerdictsDihedral(media: DataFrame, idCol: String,
      payloadCol: String, maxDist: Int = 3,
      maxBucket: Int = 0): Dataset[ChunkVerdictO] = {
    require(maxDist < 4, "4 x 16-bit chunks guarantee recall only for maxDist <= 3")
    val spark = media.sparkSession
    import spark.implicits._
    val hashed = media.select(col(idCol).cast("long").as("doc_id"),
        Multimodal.pHashDihedralUdf(col(payloadCol)).as("hs"))
      .filter(col("hs").isNotNull)
    val rows = hashed.select(col("doc_id"),
        posexplode(col("hs")))
      .select(col("doc_id"), col("pos").as("orient"), col("col").as("h"))
    val chunked = Postings.chunks16(rows, "h")
      .as[(Long, Int, Long, Int, Long)]
    chunked.groupByKey { case (_, _, _, chunk, key) => (chunk, key) }
      .flatMapGroupsWithState[List[(Long, Long)], ChunkVerdictO](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((chunk, _), rows, state: GroupState[List[(Long, Long)]]) =>
          val rs = rows.toSeq.sortBy(r => (r._1, r._2))
          val arrivals = rs.map { case (id, orient, h, _, _) =>
            (id, h, orient == 0)
          }
          val (seen, verdicts) = foldProbe(state.getOption.getOrElse(Nil),
            arrivals, maxBucket)(
            (h, eh) => java.lang.Long.bitCount(h ^ eh) <= maxDist)
          state.update(seen)
          rs.zip(verdicts).map { case ((id, orient, _, _, _), v) =>
            ChunkVerdictO(id, orient, chunk, v)
          }.iterator
      }
  }

  def pHashVerdictsRotTolerant(media: DataFrame, idCol: String,
      payloadCol: String, maxDist: Int = 3,
      maxBucket: Int = 0): Dataset[ChunkVerdictO] = {
    require(maxDist < 4, "4 x 16-bit chunks guarantee recall only for maxDist <= 3")
    val spark = media.sparkSession
    import spark.implicits._
    val hashed = media.select(col(idCol).cast("long").as("doc_id"),
        Multimodal.pHashRotsUdf(col(payloadCol)).as("hs"))
      .filter(col("hs").isNotNull)
    val rows = hashed.select(col("doc_id"),
        posexplode(col("hs")))
      .select(col("doc_id"), col("pos").as("orient"), col("col").as("h"))
    val chunked = Postings.chunks16(rows, "h")
      .as[(Long, Int, Long, Int, Long)]
    chunked.groupByKey { case (_, _, _, chunk, key) => (chunk, key) }
      .flatMapGroupsWithState[List[(Long, Long)], ChunkVerdictO](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((chunk, _), rows, state: GroupState[List[(Long, Long)]]) =>
          val rs = rows.toSeq.sortBy(r => (r._1, r._2))
          val arrivals = rs.map { case (id, orient, h, _, _) =>
            (id, h, orient == 0)
          }
          val (seen, verdicts) = foldProbe(state.getOption.getOrElse(Nil),
            arrivals, maxBucket)(
            (h, eh) => java.lang.Long.bitCount(h ^ eh) <= maxDist)
          state.update(seen)
          rs.zip(verdicts).map { case ((id, orient, _, _, _), v) =>
            ChunkVerdictO(id, orient, chunk, v)
          }.iterator
      }
  }

  /** Streaming IMAGE near-dup dedup — the pixel tier of the ingest
    * ladder ([[bandVerdicts]] covers edited text; this covers
    * recompressed / lightly-edited images): arriving payloads pHash
    * ([[Multimodal.pHash64]]) and bucket by 16-bit hash chunks —
    * pigeonhole-complete for hamming distance <= 3 — with
    * `flatMapGroupsWithState` per (chunk, value) holding the
    * (doc_id, hash) list seen so far. An arrival is a duplicate of the
    * lowest earlier id within `maxDist` bits. Same determinism
    * contract as bandVerdicts: id-ordered fold within a batch,
    * id-monotonic delivery across batches == the batch replay. State
    * per bucket is 16 bytes/member; undecodable payloads carry no
    * hash and pass through unjudged (they are not images).
    *
    * `maxBucket` caps the hot chunk bucket — blank thumbnails and
    * default avatars share one 16-bit chunk value corpus-wide, the
    * exact skew class the batch tier's `maxDf` guards; [[foldProbe]]
    * semantics (capped arrivals still probe the lowest-id members).
    * 0 = uncapped. */
  def pHashVerdicts(media: DataFrame, idCol: String, payloadCol: String,
      maxDist: Int = 3, maxBucket: Int = 0): Dataset[ChunkVerdict] = {
    require(maxDist < 4, "4 x 16-bit chunks guarantee recall only for maxDist <= 3")
    val spark = media.sparkSession
    import spark.implicits._
    val hashed = media.select(col(idCol).cast("long").as("doc_id"),
        Multimodal.pHashUdf(col(payloadCol)).as("ph"))
      .filter(col("ph").isNotNull)
    val chunked = Postings.chunks16(hashed, "ph")
      .as[(Long, Long, Int, Long)]
    chunked.groupByKey { case (_, _, chunk, key) => (chunk, key) }
      .flatMapGroupsWithState[List[(Long, Long)], ChunkVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((chunk, _), rows, state: GroupState[List[(Long, Long)]]) =>
          val arrivals = rows.toSeq.sortBy(_._1)
            .map { case (id, ph, _, _) => (id, ph, true) }
          val (seen, verdicts) = foldProbe(state.getOption.getOrElse(Nil),
            arrivals, maxBucket)(
            (h, eh) => java.lang.Long.bitCount(h ^ eh) <= maxDist)
          state.update(seen)
          arrivals.zip(verdicts).map { case ((id, _, _), v) =>
            ChunkVerdict(id, chunk, v)
          }.iterator
      }
  }

  /** [[pHashVerdicts]] tolerant to STRUCTURED CROPS — the streaming
    * member of the m128 tier: every arrival registers ALL seven
    * canonical-window hashes (`Multimodal.pHash64CropWindows`, one
    * decode) into chunk-bucket state — 28 rows x 16 B = 448 B per doc,
    * the price of being crop-matchable as a future master — and its
    * window-0 (whole image) hash doubles as the PROBE: a later
    * arrival that is a center/quadrant crop of an earlier master
    * hashes bit-exactly to that master's registered window, so its
    * win = 0 verdict names the master. Window 1-6 rows also emit (one
    * record per (doc, win, chunk) — no duplicate keys); consumers
    * score win = 0. Same id-monotonic determinism contract and
    * `maxBucket` / [[foldProbe]] cap as the family; same-doc
    * window-vs-window self-matches are excluded by id.
    * `extended = true` registers the thirds ladder too (windows
    * 7-15, 16 hashes per decode — 64 state rows/doc), catching
    * rule-of-thirds recomposition re-deliveries the base window set
    * misses structurally. */
  def pHashCropVerdicts(media: DataFrame, idCol: String,
      payloadCol: String, maxDist: Int = 3,
      maxBucket: Int = 0, extended: Boolean = false): Dataset[CropChunkVerdict] = {
    require(maxDist < 4, "4 x 16-bit chunks guarantee recall only for maxDist <= 3")
    val spark = media.sparkSession
    import spark.implicits._
    val hashed = media.select(col(idCol).cast("long").as("doc_id"),
        (if (extended) Multimodal.pHashCropWindowsExtUdf
         else Multimodal.pHashCropWindowsUdf)(col(payloadCol)).as("hs"))
      .filter(col("hs").isNotNull)
    val rows = hashed.select(col("doc_id"), explode(col("hs")).as("wh"))
      .select(col("doc_id"), col("wh._1").as("win"), col("wh._2").as("h"))
    val chunked = Postings.chunks16(rows, "h")
      .as[(Long, Int, Long, Int, Long)]
    chunked.groupByKey { case (_, _, _, chunk, key) => (chunk, key) }
      .flatMapGroupsWithState[List[(Long, Long)], CropChunkVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((chunk, _), rows, state: GroupState[List[(Long, Long)]]) =>
          val rs = rows.toSeq.sortBy(r => (r._1, r._2))
          val arrivals = rs.map { case (id, _, h, _, _) => (id, h, true) }
          val (seen, verdicts) = foldProbe(state.getOption.getOrElse(Nil),
            arrivals, maxBucket)(
            (h, eh) => java.lang.Long.bitCount(h ^ eh) <= maxDist)
          state.update(seen)
          rs.zip(verdicts).map { case ((id, win, _, _, _), v) =>
            CropChunkVerdict(id, win, chunk, v)
          }.iterator
      }
  }

  /** [[pHashVerdicts]] tolerant to HORIZONTAL MIRRORING — the streaming
    * form of the flip-tolerant batch tier: every arrival probes the
    * bucket state with BOTH its as-is and mirrored-grid hashes
    * (`Multimodal.pHash64Both`, one decode), but only the AS-IS hash
    * enters state, keyed by its own chunks — so state size per doc is
    * unchanged (4 rows x 16 B) and a mirrored repost's mirrored-hash
    * chunks land exactly in its source's as-is buckets. Same-doc
    * orientation self-matches are excluded (a left-right-symmetric
    * image has ph == phf and would otherwise dedup against itself).
    * Emits one [[ChunkVerdictO]] per (doc, orientation, chunk) — no
    * duplicate full keys; reduce over `orient` for a per-chunk
    * verdict. `maxBucket` caps the hot chunk bucket ([[foldProbe]]
    * semantics); 0 = uncapped. */
  def pHashVerdictsFlipTolerant(media: DataFrame, idCol: String,
      payloadCol: String, maxDist: Int = 3,
      maxBucket: Int = 0): Dataset[ChunkVerdictO] = {
    require(maxDist < 4, "4 x 16-bit chunks guarantee recall only for maxDist <= 3")
    val spark = media.sparkSession
    import spark.implicits._
    val hashed = media.select(col(idCol).cast("long").as("doc_id"),
        Multimodal.pHashBothUdf(col(payloadCol)).as("hs"))
      .filter(col("hs").isNotNull)
      .select(col("doc_id"), col("hs._1").as("ph"), col("hs._2").as("phf"))
    // orientation rows: orient 0 = as-is (enters state), 1 = mirrored
    // (probe only); each row buckets by ITS hash's chunks
    val rows = hashed.select(col("doc_id"), lit(0).as("orient"),
        col("ph").as("h"))
      .unionByName(hashed.select(col("doc_id"), lit(1).as("orient"),
        col("phf").as("h")))
    val chunked = Postings.chunks16(rows, "h")
      .as[(Long, Int, Long, Int, Long)]
    chunked.groupByKey { case (_, _, _, chunk, key) => (chunk, key) }
      .flatMapGroupsWithState[List[(Long, Long)], ChunkVerdictO](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((chunk, _), rows, state: GroupState[List[(Long, Long)]]) =>
          val rs = rows.toSeq.sortBy(r => (r._1, r._2))
          val arrivals = rs.map { case (id, orient, h, _, _) =>
            (id, h, orient == 0)
          }
          val (seen, verdicts) = foldProbe(state.getOption.getOrElse(Nil),
            arrivals, maxBucket)(
            (h, eh) => java.lang.Long.bitCount(h ^ eh) <= maxDist)
          state.update(seen)
          rs.zip(verdicts).map { case ((id, orient, _, _, _), v) =>
            ChunkVerdictO(id, orient, chunk, v)
          }.iterator
      }
  }
}
