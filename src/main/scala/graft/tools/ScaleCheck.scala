package graft.tools

import graft.fixtures.Corpora._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.operators.Multimodal.{AudioOnset, AudioSpectralCode,
  AudioSpectralLandmark, ImageAffine, ImageAffineFrame,
  ImageAffineFrameAnchored, ImagePeak, ImageRotScale, ImageScale}

/** Empirical scaling sweep for the LLM-pipeline operators: run each op
  * at N, 4N, 16N rows of synthetic data and report wall time + output
  * size. The point is the GROWTH CURVE, not the absolute numbers — an
  * operator whose time grows ~linearly (after the fixed job overhead)
  * has no hidden quadratic; one that bends super-linear is a scale bug.
  * Results are recorded in PLANS.md (Round 5 scaling evidence).
  *
  * The corpora are [[graft.fixtures.Corpora]]'s. */
object ScaleCheck {

  def main(args: Array[String]): Unit = {
    val base = args.headOption.filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(30000)
    // optional further args: only run ops whose name contains one of them
    val only = args.filterNot(_.forall(_.isDigit))
    def wanted(name: String): Boolean = only.isEmpty || only.exists(name.contains)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: String, n: Int)(df: => DataFrame): Unit = if (wanted(name)) {
      val t0 = System.nanoTime()
      val cnt = df.count()
      println(f"[scale] $name%-28s n=$n%9d  ${(System.nanoTime() - t0) / 1e9}%8.2f s  out=$cnt%10d")
    }

    for (mult <- Seq(1, 4, 16)) {
      val n = base * mult
      val d = docs(spark, n).persist()
      val e = embs(spark, n / 4).persist()
      d.count(); e.count() // materialize inputs outside the timings
      run("exactDedup", n)(TextDedup.exactDedup(d, "doc_id", "text"))
      run("minHashLshPairs", n)(TextDedup.minHashLshPairs(d, "doc_id", "text", 0.5))
      run("simHashPairs", n)(TextDedup.simHashPairs(d, "doc_id", "text", 3))
      run("contaminationOverlap", n)(TextDedup.contaminationOverlap(
        d, "doc_id", "text", d.filter(col("doc_id") < 50), "text"))
      run("ngramJaccardPairs(df500)", n)(TextDedup.ngramJaccardPairs(
        d, "doc_id", "text", 0.5, maxDf = 500))
      run("cosineDupPairsLsh", n / 4)(Similarity.cosineDupPairsLsh(e, 0.9, dim = 64))
      run("semanticDupPairs", n / 4)(Similarity.semanticDupPairs(e, 0.9,
        nCentroids = math.max(8, math.sqrt(n / 4).toInt / 2)))
      run("packSequences", n)(TextAnalysis.packSequences(d, "doc_id", "text", 2048))
      run("repetitionSignals", n)(TextAnalysis.repetitionSignals(d, "doc_id", "text"))
      run("unigramRarity", n)(TextAnalysis.unigramRarity(d, "doc_id", "text"))
      run("tfidfTopTerms", n)(TextAnalysis.tfidfTopTerms(d, "doc_id", "text", 3))
      // the filter references the join output — without it count() lets
      // Catalyst eliminate the unique-key left join (and the whole
      // dup-detection pipeline behind it) and the timing measures nothing
      run("dupSubstringCoverage", n)(TextDedup.dupSubstringCoverage(d, "doc_id", "text", 8)
        .filter(col("covered_tokens") >= 0))
      run("dupSubstringRemove", n)(TextDedup.dupSubstringRemove(d, "doc_id", "text", 8)
        .filter(col("kept_tokens") >= 0))
      run("bigramLmScore", n)(TextAnalysis.bigramLmScore(d, "doc_id", "text")
        .filter(col("n_bigrams") >= 0))
      run("tokenBudgetSelect", n)(TextAnalysis.tokenBudgetSelect(
        d, "doc_id", "text", budgetTokens = n.toLong * 20).filter(col("selected")))
      run("bm25Score", n)(TextAnalysis.bm25Score(d, "doc_id", "text",
        Seq("w1", "w42", "mutated")).filter(col("bm25") >= 0))
      run("pqEncode", n / 4)(Similarity.pqEncode(e))
      run("paragraphDedup", n)(TextDedup.paragraphDedup(d, "doc_id", "text", 16)
        .filter(col("n_kept") >= 0))
      run("hllDistinct(16 keys)", n)(d.groupBy((col("doc_id") % 16).as("k"))
        .agg(graft.functions.HllSketch.hllDistinct(col("text")).as("est")))
      run("weightedQuantileBinned", n)(
        graft.operators.ExactQuantile.groupWeightedQuantileBinned(
          d.select(col("doc_id"), (col("doc_id") % 3).as("k"),
            length(col("text")).cast("double").as("v"),
            (col("doc_id") % 7 + 1).as("w")), "k", "v", "w", 0.5, "wq"))
      run("diversitySelect", n / 4)(Similarity.diversitySelect(e, 0.5)
        .filter(col("kept")))
      run("sequenceMatchCount", n) {
        implicit val sp: SparkSession = spark
        Funnel.sequenceMatchCount(events(spark, n), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase")).toDF()
          .filter(col("seq_count") >= 0)
      }
      run("fuzzyKeyPairs", n)(TextDedup.fuzzyKeyPairs(
        graft.queries.TextOps.plantedFuzzyKeys(d), "doc_id", "key"))
      run("bpeMergeRules(2)", n)(TextAnalysis.bpeMergeRules(
        d, "text", merges = 2))
      run("quantilesBinned", n)(graft.operators.ExactQuantile.groupQuantilesBinned(
        d.select(col("doc_id"), (col("doc_id") % 3).as("k"),
          length(col("text")).cast("double").as("v")), "k", Seq(("v", 0.9, "p90"))))
      // spectral tier: payload generation (17 StrictMath sines per
      // sample) dominates raw wall, so the corpus materializes OUTSIDE
      // the timings like d/e; /8 keeps the sweep's top tier tractable
      if (wanted("audioSpectral")) {
        implicit val sp: SparkSession = spark
        val a = tones(spark, n / 8).persist()
        a.count()
        run("audioSpectralPairs", n / 8)(
          Multimodal.pairs(AudioSpectralCode)(a, maxDf = 500)
            .filter(col("match_frac") >= 0))
        run("audioSpectralLandmarkPairs", n / 8)(
          Multimodal.pairs(AudioSpectralLandmark())(a, maxDf = 500)
            .filter(col("match_frac") >= 0))
        a.unpersist()
      }
      // onset tier: same corpus-materialized-outside-timings shape as
      // the spectral sweep; the planted 1/10 trimmed-resample rate
      // makes expected pair output exactly n/80 per tier
      if (wanted("audioOnset")) {
        implicit val sp: SparkSession = spark
        val a = gatedTones(spark, n / 8).persist()
        a.count()
        run("audioOnsetLandmarkPairs", n / 8)(
          Multimodal.pairs(AudioOnset())(a, maxDf = 500)
            .filter(col("match_frac") >= 0))
        a.unpersist()
      }
      // peak-patch tier: corpus materialized outside the timings like
      // the audio sweeps; the filter keeps only the n/10 PLANTED
      // arbitrary-offset crop pairs so out= is the recall numerator
      if (wanted("imagePeak")) {
        implicit val sp: SparkSession = spark
        val a = pngs(spark, n / 8).persist()
        a.count()
        run("imagePeakPairs(planted)", n / 8)(
          Multimodal.pairs(ImagePeak())(a, minMatch = 0.6, maxDf = 500)
            .filter(col("doc_b") - col("doc_a") === 9 &&
              col("doc_b") % 10 === 9))
        a.unpersist()
      }
      // constellation tier: corpus materialized outside the timings;
      // the filter keeps only the n/10 PLANTED crop+resize pairs so
      // out= is the recall numerator
      if (wanted("imageScale")) {
        implicit val sp: SparkSession = spark
        val a = blobPngs(spark, n / 8).persist()
        a.count()
        run("imageScalePairs(planted)", n / 8)(
          Multimodal.pairs(ImageScale())(a, minMatch = 0.4, maxDf = 500)
            .filter(col("doc_b") - col("doc_a") === 9 &&
              col("doc_b") % 10 === 9))
        // the minShared=24 evidence floor prunes the code-starved
        // probes (5-peak crops: 20 correlated quads that can reach
        // spurious 0.65-0.75 against generic layouts); the recall
        // delta vs the plain line is exactly those probes
        run("imageScalePairs(minShared)", n / 8)(
          Multimodal.pairs(ImageScale())(a, minMatch = 0.4, maxDf = 500,
            minShared = 24)
            .filter(col("doc_b") - col("doc_a") === 9 &&
              col("doc_b") % 10 === 9))
        a.unpersist()
      }
      // rotation-invariant tier: the rot codes drop one angle (24x
      // less nominal entropy than the quads), so this sweep is the
      // saturation guard for THIS family at corpus scale
      if (wanted("imageRot")) {
        implicit val sp: SparkSession = spark
        val a = rotPngs(spark, n / 8).persist()
        a.count()
        run("imageRotScalePairs(planted)", n / 8)(
          Multimodal.pairs(ImageRotScale())(a, minMatch = 0.2, maxDf = 500)
            .filter(col("doc_b") - col("doc_a") === 9 &&
              col("doc_b") % 10 === 9))
        run("imageRotScalePairs(minShared)", n / 8)(
          Multimodal.pairs(ImageRotScale())(a, minMatch = 0.2, maxDf = 500,
            minShared = 8)
            .filter(col("doc_b") - col("doc_a") === 9 &&
              col("doc_b") % 10 === 9))
        a.unpersist()
      }
      // affine-whitened tier: the m169 sweep — whitened rot codes
      // share the rot family's entropy, but the WHITENING runs per
      // image and the planted compound (rotation x 1.3-1.7:1 squeeze)
      // must stay recallable at corpus scale under the same maxDf cap
      if (wanted("imageAffine")) {
        implicit val sp: SparkSession = spark
        val a = affinePngs(spark, n / 8).persist()
        a.count()
        run("imageAffinePairs(planted)", n / 8)(
          Multimodal.pairs(ImageAffine())(a, minMatch = 0.25, maxDf = 500)
            .filter(col("doc_b") - col("doc_a") === 9 &&
              col("doc_b") % 10 === 9))
        run("imageAffinePairs(minShared)", n / 8)(
          Multimodal.pairs(ImageAffine())(a, minMatch = 0.25, maxDf = 500,
            minShared = 8)
            .filter(col("doc_b") - col("doc_a") === 9 &&
              col("doc_b") % 10 === 9))
        a.unpersist()
      }
      // affine-FRAME tier (m174): exact affine invariants, no
      // whitening — swept on BOTH corpus classes: the no-crop
      // rotation x squeeze compound (the m169 recall bar: the round-12
      // verdict set >= 85% at 2k/8k/32k) and the full crop x affine
      // compound the tier exists for. Both lines also expose the
      // spurious-pair count (out= minus planted) under the same maxDf
      // cap — the saturation guard for the 36-bit triple codes.
      if (wanted("imageAffineFrame")) {
        implicit val sp: SparkSession = spark
        val a = affinePngs256(spark, n / 8).persist()
        a.count()
        run("imageAffineFramePairs(planted)", n / 8)(
          Multimodal.pairs(ImageAffineFrame())(a, maxDf = 500)
            .filter(col("doc_b") - col("doc_a") === 9 &&
              col("doc_b") % 10 === 9))
        run("imageAffineFramePairs(all)", n / 8)(
          Multimodal.pairs(ImageAffineFrame())(a, maxDf = 500))
        a.unpersist()
        val c = cropAffinePngs(spark, n / 8).persist()
        c.count()
        run("imageAffineFramePairs(cropPlanted)", n / 8)(
          Multimodal.pairs(ImageAffineFrame())(c, maxDf = 500)
            .filter(col("doc_b") - col("doc_a") === 9 &&
              col("doc_b") % 10 === 9))
        run("imageAffineFramePairs(cropAll)", n / 8)(
          Multimodal.pairs(ImageAffineFrame())(c, maxDf = 500))
        // the VERIFIED tier (m179): candidate gate low, RANSAC
        // geometric verification — recall and precision both above
        // the code-gate tier by construction; the sweep pins both
        run("imageAffineFrameVerified(cropPlanted)", n / 8)(
          Multimodal.pairs(ImageAffineFrameAnchored())(c, maxDf = 500)
            .filter(col("doc_b") - col("doc_a") === 9 &&
              col("doc_b") % 10 === 9))
        run("imageAffineFrameVerified(cropAll)", n / 8)(
          Multimodal.pairs(ImageAffineFrameAnchored())(c, maxDf = 500))
        c.unpersist()
        // PHOTOGRAPHIC-texture class (round 15): the same planted
        // compounds over JPEG-textured masters — gradient + value
        // noise + grain + 8x8 quantization artifacts. The sweep
        // measures the photo-world operating point of both tiers
        // (code gate and RANSAC verify) so the family's headline
        // recall is not blob-world-only.
        val j = cropAffineJpegTextured(spark, n / 8).persist()
        j.count()
        run("imageAffineFramePairs(texPlanted)", n / 8)(
          Multimodal.pairs(ImageAffineFrame())(j, maxDf = 500)
            .filter(col("doc_b") - col("doc_a") === 9 &&
              col("doc_b") % 10 === 9))
        run("imageAffineFramePairs(texAll)", n / 8)(
          Multimodal.pairs(ImageAffineFrame())(j, maxDf = 500))
        run("imageAffineFrameVerified(texPlanted)", n / 8)(
          Multimodal.pairs(ImageAffineFrameAnchored())(j, maxDf = 500)
            .filter(col("doc_b") - col("doc_a") === 9 &&
              col("doc_b") % 10 === 9))
        run("imageAffineFrameVerified(texAll)", n / 8)(
          Multimodal.pairs(ImageAffineFrameAnchored())(j, maxDf = 500))
        j.unpersist()
      }
      d.unpersist(); e.unpersist()
    }
    spark.stop()
  }
}
