package graft.queries

import graft.fixtures.Catalogue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import Util._
import graft.operators.Multimodal.{AudioChroma, AudioCode, AudioInterval,
  AudioLandmark, AudioOnset, AudioOnsetRolling, AudioSpectralCode,
  AudioSpectralLandmark, ImageAffine, ImageAffineFrame,
  ImageAffineFrameAnchored, ImageAffineFrameChiral,
  ImageAffineFrameSqueezeFan, ImagePeak, ImagePeakDihedral, ImageRotScale,
  ImageScale, ImageScaleAspect, ImageScaleCanonical, ImageScaleDihedral,
  ImageScaleNormalized, PHash, PHashCrop, PHashDihedral, PHashFlip, PHashRot,
  PeakLossy, VideoAffine, VideoAffineFrame, VideoAffineFrameAnchored,
  VideoAffineFrameChiral, VideoAffineFrameSqueezeFan,
  VideoCrop, VideoFrames, VideoFramesDihedral, VideoFramesFlip, VideoPeak,
  VideoRotScale, VideoScale, VideoScaleAspect, VideoScaleCanonical,
  VideoShift, VideoSkip}

/** The multimodal gates: media as binary `(doc_id, payload)` columns
  * through the decode, feature, frame and near-dup operators of
  * [[graft.operators.Multimodal]]. Every synthetic payload comes from a
  * named [[graft.fixtures.Catalogue]] entry laid out over doc ids, the
  * same entry the gate's st twin in [[StreamingOps]] streams. Codec
  * paths a DuckDB oracle cannot replay are gated by pinned goldens;
  * integer-arithmetic ones replay in SQL below.
  */
object MultimodalOps extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
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
      val gif = Catalogue.gif.udf()
      val media = mediaRows(s.range(0, 20), gif)
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
      val wav = Catalogue.wavRamp.udf()
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
      val png = Catalogue.png.udf()
      val media = mediaRows(s.range(0, 40), png)
      Multimodal.extractFeatures(media).toDF().orderBy(col("doc_id"))
    }),

    // IMAGE near-dup pairs via pHash (32x32 box resample → StrictMath
    // DCT-II → 8x8 median bits): 20 base PNGs + 20 lightly-edited
    // variants (id >= 20 edits id-20); 16-bit chunk-bucket candidates
    // (pigeonhole-complete for dist <= 3), bit_count verify. The codec
    // + DCT path a DuckDB oracle cannot replay — pinned golden gate
    // (the m75/m76 precedent).
    "m78_phash_pairs" -> ((s, dir) => {
      val png = Catalogue.pngVariant.udf(20)
      val media = mediaRows(s.range(0, 40), png)
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
      val wav = Catalogue.wavTexLevel.udf(20)
      val media = mediaRows(s.range(0, 40), wav)
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
      val wav = Catalogue.wavTexTrim.udf(20)
      val media = mediaRows(s.range(0, 14).union(s.range(20, 34)), wav)
      Multimodal.pairs(AudioLandmark())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // VIDEO container decode + frame-sampled pHash: deterministic
    // synthetic AVIs (uncompressed DIB frames — bit-exact through the
    // BMP decode), every 2nd frame hashed via the m78 path. Codec +
    // StrictMath DCT — pinned golden gate (m75/m78 precedent).
    "m81_video_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = Catalogue.avi.udf()
      val media = mediaRows(s.range(0, 8), avi)
      Multimodal.videoFramePHash(media, every = 2).toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // VIDEO near-dup under TIME SHIFT: 8 base AVIs + 8 re-uploads with
    // the first 2 frames CUT (frameOffset=2 = one `every` stride, so
    // every sample position shifts by 1 — aligned m82 matching sees
    // nothing, interior landmarks are bit-identical). Pinned golden.
    "m84_video_landmarks" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = Catalogue.aviTrim.udf(20)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 28)), avi)
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
      val avi = Catalogue.aviTrimTranscode.udf(20)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 28)), avi)
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
      val avi = Catalogue.aviAudio.udf()
      val media = mediaRows(s.range(0, 8), avi)
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
      val mp4 = Catalogue.mp4.udf()
      val media = mediaRows(s.range(0, 8), mp4)
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
      val mk = Catalogue.mp4Remux.udf(20)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 28)), mk)
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
      val mk = Catalogue.fmp4Remux.udf(20)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 28)), mk)
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
      val mp4 = Catalogue.mp4Audio.udf()
      val media = mediaRows(s.range(0, 10), mp4)
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
      val mk = Catalogue.mkvRemux.udf(20)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 28)), mk)
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
      val mkv = Catalogue.mkvAudio.udf()
      val media = mediaRows(s.range(0, 10), mkv)
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
      val wav = Catalogue.tones.udf(20)
      val media = mediaRows(s.range(0, 10).union(s.range(20, 30)), wav)
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
      val png = Catalogue.pngTurns.udf(20, 20)
      val corpus = mediaRows(s.range(0, 8), png)
      val index = Multimodal.pHashChunkIndex(corpus)
      val probes = mediaRows(s.range(20, 24).union(s.range(30, 32))
        .union(s.range(140, 142)), png)
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
      val wav = Catalogue.tones.udf(20, 10)
      val corpus = mediaRows(s.range(0, 8), wav)
      val index = Multimodal.index(AudioSpectralCode)(corpus)
      val probes = mediaRows(s.range(20, 26).union(s.range(130, 132)), wav)
      Multimodal.screen(AudioSpectralCode)(probes, index)
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
      val wav = Catalogue.tonesHop.udf(20)
      val media = mediaRows(s.range(0, 10).union(s.range(20, 30)), wav)
      Multimodal.pairs(AudioSpectralLandmark(hopMs = 32))(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
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
      val wav = Catalogue.tonesTrim.udf(20)
      val media = mediaRows(s.range(0, 10).union(s.range(20, 30)), wav)
      Multimodal.pairs(AudioSpectralLandmark())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
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
      val wav = Catalogue.onsets.udf(20)
      val media = mediaRows(s.range(0, 10).union(s.range(20, 30)), wav)
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
      val wav = Catalogue.tonesTrim.udf(20)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 26)), wav)
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
      val img = Catalogue.exif.udf(20, 10)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(26, 28)).union(s.range(140, 142)), img)
      Multimodal.pairs(PHash)(media, maxDist = 3, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
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
      val wav = Catalogue.onsets.udf(20, 10)
      val corpus = mediaRows(s.range(0, 8), wav)
      val index = Multimodal.index(AudioOnset())(corpus)
      val probes = mediaRows(s.range(20, 26).union(s.range(130, 132)), wav)
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
      val wav = Catalogue.onsetsReleveled.udf(20)
      val media = mediaRows(s.range(0, 10).union(s.range(20, 30)), wav)
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
      val wav = Catalogue.onsetsNoisy.udf(20)
      val media = mediaRows(s.range(0, 10).union(s.range(20, 30)), wav)
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
      val wav = Catalogue.beatsSpeed.udf(20)
      val media = mediaRows(s.range(0, 10).union(s.range(20, 30)), wav)
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
      val wav = Catalogue.beatsCompound.udf(20)
      val media = mediaRows(s.range(0, 10).union(s.range(20, 30)), wav)
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
      val wav = Catalogue.beatsPitchVerified.udf(40, 88)
      val media = mediaRows(s.range(0, 10).union(s.range(40, 50))
        .union(s.range(128, 132)), wav)
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
      val wav = Catalogue.beatsHalfTone.udf(20, 108)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 28))
        .union(s.range(140, 144)), wav)
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
      val wav = Catalogue.beatsSpeed.udf(20, 10)
      val corpus = mediaRows(s.range(0, 8), wav)
      val index = Multimodal.index(AudioInterval())(corpus)
      val probes = mediaRows(s.range(20, 26).union(s.range(130, 132)), wav)
      Multimodal.screen(AudioInterval())(probes, index)
        .orderBy(col("doc_id"))
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
      val avi = Catalogue.aviRate.udf(20, 8)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 28))
        .union(s.range(140, 142)), avi)
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
      val wav = Catalogue.beatsSemitone.udf(20)
      val media = mediaRows(s.range(0, 10).union(s.range(20, 30)), wav)
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
      val wav = Catalogue.beatsQuarterTone.udf(20)
      val media = mediaRows(s.range(0, 10).union(s.range(20, 30)), wav)
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
      val img = Catalogue.pngCrop.udf(20, 8)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 28))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.thirdsCrop.udf(20, 4)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.peakCrop.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val avi = Catalogue.aviPeakCrop.udf(20, 4)
      val media = Seq(0L, 1L, 10L, 11L).toDF("id")
        .union(s.range(20, 24).toDF("id"))
        .union(Seq(200L, 201L).toDF("id"))
        .select(col("id").as("doc_id"), avi(col("id")).as("payload"))
      Multimodal.pairs(VideoPeak(every = 1))(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
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
      val img = Catalogue.peakDihedralCrop.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.peakLossyCrop.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.peakLossyCrop.udf(20, 4)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.imagePeakLossyIndex(corpus)
      val probes = mediaRows(s.range(20, 24).union(s.range(130, 132)), img)
      Multimodal.dedupAgainstImagePeakLossyIndex(probes, index)
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
      val img = Catalogue.scaleCrop.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.scaleCrop.udf(20, 4)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.index(ImageScale())(corpus)
      val probes = mediaRows(s.range(20, 24).union(s.range(130, 132)), img)
      Multimodal.screen(ImageScale())(probes, index, minMatch = 0.4)
        .orderBy(col("doc_id"))
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
      val img = Catalogue.scaleDihedral.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.scaleDihedralIndex.udf(20, 3)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.index(ImageScale())(corpus)
      val probes = mediaRows(s.range(20, 23).union(s.range(130, 132)), img)
      Multimodal.screen(ImageScaleDihedral())(probes, index, minMatch = 0.4)
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
      val img = Catalogue.scaleLossy.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.scaleDeepLossy.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.rotScale.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.rotScaleIndex.udf(20, 3)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.index(ImageRotScale())(corpus)
      val probes = mediaRows(s.range(20, 23).union(s.range(130, 132)), img)
      Multimodal.screen(ImageRotScale())(probes, index, minMatch = 0.2)
        .orderBy(col("doc_id"))
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
      val img = Catalogue.aspect.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.aspectNorm.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
      Multimodal.pairs(ImageScaleNormalized())(media, minMatch = 0.3,
        maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "m153_aspect_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = Catalogue.aspect.udf(20, 2)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.index(ImageScale())(corpus)
      val probes = mediaRows(s.range(20, 22).union(s.range(130, 132)), img)
      Multimodal.screen(ImageScaleAspect())(probes, index, minMatch = 0.3)
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
      val img = Catalogue.videoRot.udf(20, 4)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.videoRot.udf(20, 3)
      val corpus = mediaRows(s.range(0, 6), img)
      val index = Multimodal.index(VideoRotScale())(corpus)
      val probes = mediaRows(s.range(20, 23).union(s.range(130, 132)), img)
      Multimodal.screen(VideoRotScale())(probes, index, minMatch = 0.2)
        .orderBy(col("doc_id"))
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
      val img = Catalogue.canonical.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.canonical.udf(20, 4)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.index(ImageScaleCanonical())(corpus)
      val probes = mediaRows(s.range(20, 24).union(s.range(130, 132)), img)
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
      val img = Catalogue.affine.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.affine.udf(20, 4)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.index(ImageAffine())(corpus)
      val probes = mediaRows(s.range(20, 24).union(s.range(130, 132)), img)
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
      val img = Catalogue.affineFrame.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
      Multimodal.pairs(ImageAffineFrame())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Persisted AFFINE-FRAME index + ingest screen (m176 — the m174
    // tier's incremental member, AffineFrameFpVersion): 8 masters
    // fingerprint once, then the m174 probe batch plus 2 fresh docs
    // screens with no corpus re-decode. Pinned golden.
    "m176_affine_frame_index" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = Catalogue.affineFrame.udf(20, 4)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.index(ImageAffineFrame())(corpus)
      val probes = mediaRows(s.range(20, 24).union(s.range(130, 132)), img)
      Multimodal.screen(ImageAffineFrame())(probes, index)
        .orderBy(col("doc_id"))
    }),

    // FULL-AFFINE video dedup (m171 — the m169 whitening pooled per
    // sampled frame): videos TILTED and anamorphically re-ripped at
    // unknown factors (17 deg + 1.6:1, -8 deg + 1.6:1 vertical,
    // 20 deg + 1.5:1 + 2-frame trim) — the rot-invariant and
    // canonical video tiers are both structurally blind
    // (Round12Spec contrast). Pinned golden.
    "m171_video_affine_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = Catalogue.videoAffine.udf(20, 3)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 23))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.videoAffineFrame.udf(20, 3)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 23))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.affineFrameVerified.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
      Multimodal.pairs(ImageAffineFrameAnchored())(media, maxDf = 64)
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
      val img = Catalogue.affineFrameChiral.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
      Multimodal.pairs(ImageAffineFrameChiral())(media, maxDf = 64)
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
      val img = Catalogue.affineFrameChiralVerified.udf(20, 4)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
      Multimodal.pairs(ImageAffineFrameAnchored(chiral = true))(media,
          maxDf = 64)
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
      val img = Catalogue.affineFrameSqueezeFan.udf(20, 4)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
      Multimodal.pairs(ImageAffineFrameSqueezeFan())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"), col("orient"))
    }),

    // DATA-PROPORTIONAL affine-frame growth member (m185): the
    // Corpora crop x affine corpus (256px 24-blob masters, ~1/10
    // planted central-75%-crop x rotation x squeeze re-uploads) sized
    // by the data dir's documents count (a fixed 1/10 sample, floored
    // at the sf0.01 count so the pinned golden is the full 500-doc
    // corpus — per-image decode dominates this family, and the
    // growth artifact needs the LINEAR ratio, not the largest
    // absolute corpus), reduced to the recall/spurious aggregate.
    // Wall grows with the corpus (generation + decode + code join are
    // all linear), output stays one row. Pinned golden at sf0.01 (n=500: the
    // recall numerator is deterministic — generation is a pure
    // function of the row id).
    "m185_affine_frame_growth" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val n = math.max(500, t(s, dir, "documents").count().toInt / 10)
      val media = graft.fixtures.Corpora.cropAffinePngs(s, n)
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
    // arithmetic only. Pinned golden at sf0.01.
    "m186_affine_frame_verified_growth" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val n = math.max(500, t(s, dir, "documents").count().toInt / 10)
      val media = graft.fixtures.Corpora.cropAffinePngs(s, n)
      val planted = col("doc_b") - col("doc_a") === 9 &&
        col("doc_b") % 10 === 9
      Multimodal.pairs(ImageAffineFrameAnchored())(media, maxDf = 500)
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
    // blob-world verified pin is 49/50). Pinned golden at sf0.01.
    "m192_affine_frame_textured_growth" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val n = math.max(500, t(s, dir, "documents").count().toInt / 10)
      val media = graft.fixtures.Corpora.cropAffineJpegTextured(s, n)
      val planted = col("doc_b") - col("doc_a") === 9 &&
        col("doc_b") % 10 === 9
      def tier(name: String, pairs: DataFrame): DataFrame =
        pairs.agg(lit(name).as("tier"), lit(n).as("corpus_n"),
          sum(when(planted, 1).otherwise(0)).as("planted_found"),
          sum(when(!planted, 1).otherwise(0)).as("spurious"))
      // one decode for both tiers (round 16): the anchored landmark
      // table feeds the code gate AND the RANSAC verify — decode is
      // the dominant linear cost on a media corpus, and the former
      // two-decode shape paid it twice for byte-identical output (the
      // anchored table's (doc_id, lm) projection IS the code table)
      val anchored = graft.operators.Materialize.eager(
        ImageAffineFrameAnchored().landmarks(media))
      tier("code", ImageAffineFrame().scores(
          anchored.select(col("doc_id"), col("lm")), maxDf = 500))
        .unionByName(tier("verified",
          ImageAffineFrameAnchored().scores(anchored, maxDf = 500)))
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
      val media = graft.fixtures.Corpora.cropAffinePngs(s, n)
      val planted = col("doc_b") - col("doc_a") === 9 &&
        col("doc_b") % 10 === 9
      val anchored = graft.operators.Materialize.eager(
        ImageAffineFrameAnchored().landmarks(media))
      val cap = Multimodal.solveDfCap(
        anchored.select(col("doc_id"), col("lm")), 32, 14L << 20)
      ImageAffineFrameAnchored().scores(anchored, maxDf = cap)
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
      val media = graft.fixtures.Corpora.cropAffineJpegTextured(s, n)
      val planted = col("doc_b") - col("doc_a") === 9 &&
        col("doc_b") % 10 === 9
      val anchored = graft.operators.Materialize.eager(
        ImageAffineFrameAnchored().landmarks(media))
      val cap = Multimodal.solveDfCap(
        anchored.select(col("doc_id"), col("lm")), 16, 8L << 20)
      ImageAffineFrameAnchored().scores(anchored, maxDf = cap)
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
      val img = Catalogue.affineFrameVerified.udf(20, 3)
      val corpus = mediaRows(s.range(0, 8), img)
      val probes = mediaRows(s.range(20, 23).union(s.range(130, 132)), img)
      val plain = Multimodal.screen(ImageAffineFrame())(probes,
        Multimodal.index(ImageAffineFrame())(corpus))
        .select(lit("code").as("tier"), col("doc_id"), col("kept"),
          col("dup_src"))
      val verified = Multimodal.screen(ImageAffineFrameAnchored())(probes,
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
      val img = Catalogue.videoAffineFrame.udf(20, 3)
      val corpus = mediaRows(s.range(0, 6), img)
      val index = Multimodal.index(VideoAffineFrame())(corpus)
      val probes = mediaRows(s.range(20, 23).union(s.range(130, 132)), img)
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
      val img = Catalogue.videoAffineFrameVerified.udf(20, 4)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
      Multimodal.pairs(VideoAffineFrameAnchored())(media, maxDf = 64)
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
      val img = Catalogue.videoAffineFrameChiral.udf(20, 3)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 23))
        .union(s.range(140, 142)), img)
      Multimodal.pairs(VideoAffineFrameChiral())(media, maxDf = 64)
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
      val img = Catalogue.videoAffineFrameChiralVerified.udf(20, 4)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
      Multimodal.pairs(VideoAffineFrameAnchored(chiral = true))(media,
          maxDf = 64)
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
      val img = Catalogue.affineFrameSqueezeFan.udf(20, 4)
      val corpus = mediaRows(s.range(0, 6), img)
      val index = Multimodal.index(ImageAffineFrame())(corpus)
      val probes = mediaRows(s.range(20, 24).union(s.range(140, 142)), img)
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
      val img = Catalogue.affineFrameChiral.udf(20, 4)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.index(ImageAffineFrame())(corpus)
      val probes = mediaRows(s.range(20, 24).union(s.range(140, 142)), img)
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
      val img = Catalogue.videoAffineFrameSqueezeFan.udf(20, 6)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 26))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.videoCanonical.udf(20, 3)
      val corpus = mediaRows(s.range(0, 6), img)
      val index = Multimodal.index(VideoScaleCanonical())(corpus)
      val probes = mediaRows(s.range(20, 23).union(s.range(130, 132)), img)
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
      val img = Catalogue.videoAffine.udf(20, 3)
      val corpus = mediaRows(s.range(0, 6), img)
      val index = Multimodal.index(VideoAffine())(corpus)
      val probes = mediaRows(s.range(20, 23).union(s.range(130, 132)), img)
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
      val img = Catalogue.videoCanonical.udf(20, 3)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 23))
        .union(s.range(140, 142)), img)
      Multimodal.pairs(VideoScaleCanonical())(media, minMatch = 0.3, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ANAMORPHIC video dedup (m156): the aspect-hypothesis fan pooled
    // per sampled frame — a 4:3 master re-ripped at 16:9 (or the
    // reverse), one probe also trimmed two frames; the plain AND
    // rotation-invariant video constellation tiers are both
    // structurally blind (Round11oSpec pins both at zero pairs).
    // Pinned golden.
    "m156_video_aspect_pairs" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = Catalogue.videoAspectPairs.udf(20, 4)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
      Multimodal.pairs(VideoScaleAspect())(media, minMatch = 0.3, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Video aspect fan against the PLAIN video constellation index
    // (m157): the m148 artifact unchanged — anamorphic re-rips of
    // corpus masters are caught where the plain screen provably keeps
    // them (Round11oSpec). Pinned golden.
    "m157_video_aspect_index_dedup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val img = Catalogue.videoAspect.udf(20, 2)
      val corpus = mediaRows(s.range(0, 6), img)
      val index = Multimodal.index(VideoScale())(corpus)
      val probes = mediaRows(s.range(20, 22).union(s.range(130, 132)), img)
      Multimodal.screen(VideoScaleAspect())(probes, index, minMatch = 0.3)
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
      val img = Catalogue.videoScale.udf(20, 4)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142)), img)
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
      val img = Catalogue.videoScale.udf(20, 3)
      val corpus = mediaRows(s.range(0, 6), img)
      val index = Multimodal.index(VideoScale())(corpus)
      val probes = mediaRows(s.range(20, 23).union(s.range(130, 132)), img)
      Multimodal.screen(VideoScale())(probes, index, minMatch = 0.4)
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
      val img = Catalogue.texture.udf(20)
      val masters = mediaRows(s.range(0, 4), img)
      val probes = mediaRows(s.range(20, 24).union(s.range(40, 44)), img)
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
      val avi = Catalogue.aviPeakCrop.udf(20, 4)
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
      val img = Catalogue.peakCropCycle.udf(20, 4)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.index(ImagePeak())(corpus)
      val probes = mediaRows(s.range(20, 24).union(s.range(130, 132)), img)
      Multimodal.screen(ImagePeak())(probes, index)
        .orderBy(col("doc_id"))
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
      val img = Catalogue.thirdsCrop.udf(20, 4)
      val corpus = mediaRows(s.range(0, 6), img)
      val base = Multimodal.pHashCropWindowIndex(corpus)
      val ext = Multimodal.pHashCropWindowIndex(corpus,
        f = PHashCrop(extended = true))
      val probes = mediaRows(s.range(20, 24).union(s.range(140, 142)), img)
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
      val avi = Catalogue.aviCrop.udf(20, 4)
      val media = mediaRows(s.range(0, 6).union(s.range(20, 24))
        .union(s.range(140, 142)), avi)
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
      val avi = Catalogue.aviCrop.udf(20, 4)
      val corpus = mediaRows(s.range(0, 6), avi)
      val index = Multimodal.videoCropLandmarkIndex(corpus,
        f = VideoCrop(every = 1))
      val probes = mediaRows(s.range(20, 24).union(s.range(130, 132)), avi)
      Multimodal.screen(VideoCrop(every = 1))(probes, index)
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
      val avi = Catalogue.aviThirds.udf(20, 4)
      val corpus = mediaRows(s.range(0, 6), avi)
      val base = Multimodal.videoCropLandmarkIndex(corpus,
        f = VideoCrop(every = 1))
      val ext = Multimodal.videoCropLandmarkIndex(corpus,
        f = VideoCrop(every = 1, extended = true))
      val probes = mediaRows(s.range(20, 24).union(s.range(130, 132)), avi)
      val v1 = Multimodal.screen(VideoCrop(every = 1))(probes, base)
      val v2 = Multimodal.screen(VideoCrop(every = 1))(probes, ext)
      v1.select(lit(1L).as("phase"), col("doc_id"), col("kept"),
          col("dup_src"))
        .unionAll(v2.select(lit(2L).as("phase"), col("doc_id"),
          col("kept"), col("dup_src")))
        .orderBy(col("phase"), col("doc_id"))
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
      val img = Catalogue.pngCropIndex.udf(20, 7)
      val corpus = mediaRows(s.range(0, 8), img)
      val index = Multimodal.pHashCropWindowIndex(corpus)
      val probes = mediaRows(s.range(20, 27).union(s.range(140, 142)), img)
      Multimodal.screen(PHashCrop())(probes, index, maxDf = 64)
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
      val wav = Catalogue.onsetsNoisy.udf(20, 10)
      val corpus = mediaRows(s.range(0, 8), wav)
      val index = Multimodal.index(AudioOnsetRolling())(corpus)
      val probes = mediaRows(s.range(20, 26).union(s.range(130, 132)), wav)
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
      val wav = Catalogue.beatsSemitone.udf(20, 10)
      val corpus = mediaRows(s.range(0, 8), wav)
      val index = Multimodal.index(AudioChroma())(corpus)
      val probes = mediaRows(s.range(20, 26).union(s.range(130, 132)), wav)
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
      val wav = Catalogue.beatsQuarterTone.udf(20, 10)
      val corpus = mediaRows(s.range(0, 8), wav)
      val base = Multimodal.index(AudioChroma())(corpus)
      val fine = Multimodal.index(AudioChroma(div = 24))(corpus)
      val probes = mediaRows(s.range(20, 26).union(s.range(130, 132)), wav)
      val v1 = Multimodal.screen(AudioChroma())(probes, base)
      val v2 = Multimodal.screen(AudioChroma(div = 24))(probes, fine)
      v1.select(lit(1L).as("phase"), col("doc_id"), col("kept"),
          col("dup_src"))
        .unionAll(v2.select(lit(2L).as("phase"), col("doc_id"),
          col("kept"), col("dup_src")))
        .orderBy(col("phase"), col("doc_id"))
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
      val avi = Catalogue.aviRate.udf(20, 6)
      val corpus = mediaRows(s.range(0, 8), avi)
      val index = Multimodal.index(VideoSkip())(corpus)
      val probes = mediaRows(s.range(20, 26).union(s.range(130, 132)), avi)
      Multimodal.screen(VideoSkip())(probes, index)
        .orderBy(col("doc_id"))
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
      val mk = Catalogue.mkvLaced
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
      val mk = Catalogue.joint.udf(20, 4)
      val media = mediaRows(s.range(0, 4).union(s.range(20, 24)), mk)
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
      val mk = Catalogue.jointRot.udf(20, 4)
      val media = mediaRows(s.range(0, 4).union(s.range(20, 24)), mk)
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
      val mk = Catalogue.jointRot.udf(20, 4)
      val corpus = mediaRows(s.range(0, 4), mk)
      val videoIndex = Multimodal.index(VideoRotScale())(corpus)
      val audioIndex = Multimodal.index(AudioCode)(Multimodal.videoAudioTracks(corpus))
      val probes = mediaRows(s.range(20, 24).union(s.range(130, 132)), mk)
      Multimodal.videoJointRotIndexScreen(probes, videoIndex,
          audioIndex)
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
      val mkv = Catalogue.subtitles.udf()
      val media = mediaRows(s.range(0, 10), mkv)
      val t = Multimodal.videoSubtitleTexts(media)
        .select(col("doc_id"), md5(col("text")).as("h"))
      t.as("a").join(t.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .orderBy(col("doc_a"), col("doc_b"))
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
      val mp4 = Catalogue.fmp4Audio.udf()
      val media = mediaRows(s.range(0, 10), mp4)
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
      val avi = Catalogue.aviMirror.udf(20)
      val media = mediaRows(s.range(0, 10).union(s.range(20, 30)), avi)
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
      val avi = Catalogue.aviDihedral.udf(20)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 24))
        .union(s.range(30, 32)), avi)
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
      val png = Catalogue.pngTurns.udf(20)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 26)), png)
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
      val png = Catalogue.pngTurnsFlip.udf(20)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 26)), png)
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
      val png = Catalogue.pngFlip.udf(20, 6)
      val media = mediaRows(s.range(0, 8).union(s.range(20, 28)), png)
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
      val wav = Catalogue.wavStereo.udf(1000000L)
      val media = mediaRows(s.range(0, 10).union(s.range(1000000L, 1000010L)), wav)
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
      val avi = Catalogue.aviBright.udf(1000000L, 1000000L)
      val index = Multimodal.videoChunkIndex(mediaRows(s.range(0, 10), avi))
      val probes = mediaRows(s.range(1000000L, 1000010L)
        .union(s.range(2000000L, 2000002L)), avi)
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
      val wav = Catalogue.wavRate.udf(1000000L)
      val media = mediaRows(s.range(0, 10).union(s.range(1000000L, 1000010L)), wav)
      Multimodal.pairs(AudioLandmark())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
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
      val mkDoc = Catalogue.subtitled(_.grouped(40).toSeq)
      val mkDecoy = Catalogue.subsDecoy.udf()
      val media = docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            mkDoc(col("doc_id"), col("text")).as("payload"))
        .unionByName(mediaRows(s.range(2000000L, 2000005L), mkDecoy))
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
      val mkDoc = Catalogue.subtitled(_.grouped(40).toSeq.map { ch =>
        val k = math.min(20, ch.length)
        "{\\an8}" + ch.substring(0, k) + "\\N{\\i1}" + ch.substring(k) + "{\\i0}"
      }, ass = true)
      val mkDecoy = Catalogue.subsDecoyStyled.udf()
      val media = docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            mkDoc(col("doc_id"), col("text")).as("payload"))
        .unionByName(mediaRows(s.range(2000000L, 2000005L), mkDecoy))
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
      val mkDoc = Catalogue.subtitled(text => (text + " zz1 zz2 zz3 zz4 zz5")
        .split(" ").grouped(6).map(_.mkString(" ")).toSeq)
      val mkDecoy = Catalogue.subsDecoy.udf()
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
      val wav = Catalogue.wavTexLevel.udf(1000000L)
      val index = Multimodal.index(AudioCode)(mediaRows(s.range(0, 20), wav))
      val probes = mediaRows(s.range(1000000L, 1000020L), wav)
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
      val corpusPng = Catalogue.pngVariant.udf(1000000L)
      val probePng = Catalogue.pngVariant.udf(1000000L)
      val index = Multimodal.pHashChunkIndex(
        mediaRows(s.range(0, 20), corpusPng))
      val probes = mediaRows(s.range(1000000L, 1000020L), probePng)
      Multimodal.screen(PHash)(probes, index, maxDf = 64)
        .orderBy(col("doc_id"))
    }),

    // VIDEO MJPEG path: same frame pixels as m81 but each frame goes
    // through the JDK JPEG encoder into a '00dc' chunk and back out of
    // the container via the JPEG pass-through — the lossy-codec leg of
    // the AVI walk. Pinned golden (same-JVM codec determinism, the
    // st72/m78 precedent).
    "m83_video_mjpeg" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val avi = Catalogue.mjpeg.udf()
      val media = mediaRows(s.range(0, 8), avi)
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
      val avi = Catalogue.aviBright.udf(20)
      val media = mediaRows(s.range(0, 10).union(s.range(20, 30)), avi)
      Multimodal.pairs(VideoFrames())(media, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b"))
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
        ORDER BY doc_a, doc_b"""
    ,
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
        ORDER BY doc_a, doc_b"""
    ,
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
        ORDER BY doc_a, doc_b"""
    ,
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
        ORDER BY doc_a, doc_b"""
    ,
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
        ORDER BY s.doc_id"""
    ,
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
        FROM a ORDER BY doc_id"""
    ,
    "m71_media_meta" ->
      """SELECT doc_id, length(text) AS n_bytes, 'text/plain' AS mime,
        md5(text) AS content_hash
        FROM documents ORDER BY doc_id"""
    ,
    "m74_media_resize" ->
      """SELECT doc_id,
        CAST((length(text) + 3) // 4 AS INTEGER) AS n_bytes,
        CAST(length(text) AS INTEGER) AS orig_bytes,
        md5(array_to_string(list_transform(
          range(0, (length(text) + 3) // 4), i -> substr(text, i*4 + 1, 1)), ''))
          AS resized_hash
        FROM documents ORDER BY doc_id"""
    ,
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
        FROM documents JOIN counts USING (doc_id) ORDER BY doc_id"""
    ,
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
        ORDER BY doc_a, doc_b"""
    ,
    // the documents-side replay: which docs < 5 share text with which
    // (cue chunking + reassembly is the identity on the newline-free
    // corpus, so the video side contributes only its 1000000 offset);
    // duplicate texts in the corpus legitimately yield extra rows
    "m97_subtitle_decontam" ->
      """SELECT 1000000 + a.doc_id AS video_id, b.doc_id AS doc_id
        FROM documents a JOIN documents b ON a.text = b.text
        WHERE a.doc_id < 5
        ORDER BY video_id, doc_id"""
    ,
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
        ORDER BY doc_a, doc_b"""
    ,
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

