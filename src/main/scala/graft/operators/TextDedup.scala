package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Text deduplication operators for large-scale training-data pipelines.
  *
  * All operators are declarative DataFrame transforms (no driver-side
  * loops), so they scale by partitioning: the shingle inverted index and
  * the LSH band buckets are shuffle keys, and every aggregation is
  * map-side-combinable. Hash functions are md5 (stable across engines
  * and runs) — signatures are reproducible and oracle-checkable.
  *
  * TOKENIZATION CONTRACT: every operator here splits on a SINGLE
  * space (`split(text, " ")`), because window offsets, ' '-joined
  * shingles and the SQL oracles all do token-index arithmetic on that
  * exact shape. Raw corpora with tabs/newlines/multi-space runs must
  * go through [[TextAnalysis.normalizeWhitespace]] first; after
  * normalization the contract is equivalent to human word counting.
  */
object TextDedup {

  /** Word k-shingles of a text column (k consecutive tokens joined by a
    * space). Empty array when the document has fewer than k tokens —
    * guarded because Spark's `sequence(1, n)` would count DOWN for n<1.
    *
    * The split array is BOUND ONCE as a lambda variable (the
    * one-element-array + transform + unwrap shape): higher-order
    * function bodies are interpreted, not codegen'd, so a bare `split`
    * subtree referenced k times inside the shingle lambda would
    * re-split the full text for every token of every shingle —
    * measured 6x on the t48 corpus scan. */
  def wordShingles(text: Column, k: Int = 3): Column =
    element_at(
      transform(array(split(text, " ")), { words =>
        val n = size(words) - (k - 1)
        when(n >= 1,
          transform(sequence(lit(1), n),
            i => concat_ws(" ", (0 until k).map(off => element_at(words, i + off)): _*)))
          .otherwise(array().cast("array<string>"))
      }),
      1)

  /** Exact dedup: group identical texts by content hash, keep the lowest
    * id as canonical. Single shuffle on the hash; map-side combine. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct (doc, shingle) pairs — the inverted-index input. */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(wordShingles(col(textCol), k))).as("shingle"))

  /** Same index with the shingle replaced by its 64-bit xxhash: the join
    * and aggregation keys become fixed-width longs instead of strings,
    * which cuts shuffle bytes and comparison cost on the pair-counting
    * path. Collision risk at 64 bits is ~n²/2⁶⁵ (≈1e-10 for 100k distinct
    * shingles) — identical pair counts in practice. */
  def shingleHashIndex(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(transform(wordShingles(col(textCol), k),
          s => xxhash64(s)))).as("shingle"))

  /** Exact n-gram Jaccard near-dup pairs via inverted-index posting
    * lists (shuffle on shingle, never an all-pairs cross product).
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b and
    * jaccard >= threshold. Pair counts come from the shingle posting
    * lists ([[Postings.pairCounts]]): one shuffle to build postings and
    * one to count pairs, no join build over every posting.
    *
    * Scale note: `maxDf` (0 = uncapped) drops shingles held by more
    * than that many docs BEFORE pair expansion — a shingle shared by m
    * docs emits m(m-1)/2 pairs, while genuinely-near-dup pairs share
    * plenty of rare shingles too. At 100 TB pass it, or use
    * `minHashLshPairs` (banded, constant work per doc) as the scale
    * path. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 3, maxDf: Int = 0): DataFrame = {
    val sh = shingleHashIndex(docs, idCol, textCol, k)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    Postings.pairCounts(sh, Seq("shingle"), maxDf)
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signature: for seed i, sig[i] = min over shingles of
    * md5(i + ":" + shingle). Lexicographic min over hex = uniform min
    * over the hash space. Deterministic and engine-portable. */
  def minHashSignature(shingleArr: Column, numHashes: Int = 16): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingleArr, s => md5(concat(i.cast("string"), lit(":"), s)))))

  /** Fast kernel for the same signature: one reused MessageDigest, min
    * tracked as unsigned byte arrays (hex order == unsigned byte order),
    * hex-encoded once at the end. Bit-identical to `minHashSignature`
    * and the DuckDB oracle, ~100× less expression-interpreter overhead
    * than the nested-HOF form. */
  private def minHashKernel(numHashes: Int) =
    udf((shingles: Seq[String]) => {
      val md = java.security.MessageDigest.getInstance("MD5")
      val sbytes = shingles.map(_.getBytes("UTF-8")).toArray
      val mins = new Array[Array[Byte]](numHashes)
      var i = 0
      while (i < numHashes) {
        val prefix = (i.toString + ":").getBytes("UTF-8")
        var best: Array[Byte] = null
        var j = 0
        while (j < sbytes.length) {
          md.reset()
          md.update(prefix)
          md.update(sbytes(j))
          val d = md.digest()
          if (best == null || unsignedLess(d, best)) best = d
          j += 1
        }
        mins(i) = best
        i += 1
      }
      mins.map(b => if (b == null) null else graft.evm.Hex.encode(b).substring(2)).toSeq
    })

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  /** Fully fused text→signature kernel: tokenize, shingle, dedupe and
    * minhash in one pass with no intermediate Catalyst arrays. Produces
    * exactly the same signature as shingling via `wordShingles` +
    * `minHashKernel` (same join separator, same dedup). */
  private[operators] def minHashTextKernel(numHashes: Int, k: Int) =
    udf((text: String) => {
      val words = text.split(" ", -1)
      val seen = new java.util.HashSet[String]()
      val sbytes = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      var i = 0
      while (i + k <= words.length) {
        val sh = {
          val sb = new java.lang.StringBuilder(words(i))
          var j = 1
          while (j < k) { sb.append(' ').append(words(i + j)); j += 1 }
          sb.toString
        }
        if (seen.add(sh)) sbytes += sh.getBytes("UTF-8")
        i += 1
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = new Array[String](numHashes)
      var h = 0
      while (h < numHashes) {
        val prefix = (h.toString + ":").getBytes("UTF-8")
        var best: Array[Byte] = null
        var j = 0
        while (j < sbytes.length) {
          md.reset(); md.update(prefix); md.update(sbytes(j))
          val d = md.digest()
          if (best == null || unsignedLess(d, best)) best = d
          j += 1
        }
        out(h) = if (best == null) null else graft.evm.Hex.encode(best).substring(2)
        h += 1
      }
      out.toSeq
    })

  /** Docs + minhash signature column `sig` (array of hex strings).
    *
    * The kernel is CPU-bound per document, so parallelism = input
    * partitions; a small parquet (one row group → ONE partition) would
    * otherwise run it single-threaded on the whole corpus. Spread the
    * rows first when the source has fewer partitions than cores — at
    * real scale the input already has plenty and this is a no-op. */
  def withMinHash(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, k: Int = 3): DataFrame = {
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions < p) docs.repartition(p) else docs
    spread.select(col(idCol).as("doc_id"),
      minHashTextKernel(numHashes, k)(col(textCol)).as("sig"))
  }

  /** MinHash-LSH candidate pairs, verified with exact Jaccard.
    * numHashes = bands * rowsPerBand; a pair is a candidate iff some band
    * of the signature matches exactly (bucket join on the band hash —
    * constant work per document, the 100 TB-scale dedup path).
    * Verification joins candidates back to the exact Jaccard, so output
    * has no false positives (recall is the LSH knob: with 8 bands x 2
    * rows, P(candidate | j=0.5) ≈ 0.90, ≈ 1.0 for j ≥ 0.8). */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, bands: Int = 8, rowsPerBand: Int = 2, k: Int = 3): DataFrame = {
    val sigs = withMinHash(docs, idCol, textCol, bands * rowsPerBand, k)
    // persist: the band self-join would otherwise run the text→signature
    // kernel TWICE (once per side) — the whole minhash cost, doubled.
    val banded = sigs.select(col("doc_id"), posexplode(
        array((0 until bands).map(b =>
          md5(concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager materialization: the (small) candidate set materializes in
    // one pass AND (on local[n]) truncates lineage, so the banded
    // signatures can be freed immediately and no recompute can reach
    // back through the join. Materialize picks reliable checkpoint /
    // replicated persist under a cluster master so a lost executor
    // can't strand unrecomputable blocks.
    val cand = Materialize.eager(banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct())
    banded.unpersist(blocking = false)
    verifyJaccard(docs, idCol, textCol, cand, threshold, k)
  }

  /** Persisted LSH band INDEX of a corpus — the incremental-dedup
    * artifact a 100 TB corpus needs: shingle + minhash the corpus
    * ONCE, write this table (bucketed by band_key on a real
    * deployment, so index probes are shuffle-free), and dedup every
    * future ingest batch against it with [[dedupAgainstIndex]] — the
    * corpus is never re-shingled per increment. One row per
    * (band, doc): `(band, band_key, doc_id, sig)`; the signature rides
    * along so candidate verification needs no second corpus pass
    * either. */
  def minHashBandIndex(docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 8, rowsPerBand: Int = 2, k: Int = 3): DataFrame =
    withMinHash(docs, idCol, textCol, bands * rowsPerBand, k)
      .select(col("doc_id"), col("sig"), posexplode(
        array((0 until bands).map(b =>
          md5(concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))): _*)))
      .select(col("pos").as("band"), col("col").as("band_key"),
        col("doc_id"), col("sig"))

  /** Dedup an INGEST batch against a pre-built corpus index
    * ([[minHashBandIndex]], typically read back from its table): the
    * batch — small by definition — shingles and bands, equi-joins the
    * index on (band, band_key), and a candidate is a duplicate when
    * >= `estThreshold` of signature components agree (the MinHash
    * Jaccard estimator [[StreamingNearDup.bandVerdicts]] uses; the
    * index carries signatures, not texts, so nothing touches the
    * corpus). Returns every batch document as
    * (doc_id, kept, dup_src = lowest matching corpus doc).
    *
    * Scale shape: corpus cost is paid once at index build; each
    * increment costs one batch shingle pass + a candidate-scoped join
    * — with the index bucketed by band_key, only matching buckets
    * read. This is the batch-side complement of the streaming
    * [[StreamingNearDup.bandVerdicts]] state. */
  def dedupAgainstIndex(newDocs: DataFrame, index: DataFrame,
      idCol: String, textCol: String, bands: Int = 8, rowsPerBand: Int = 2,
      k: Int = 3, estThreshold: Double = 0.5): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sigs = Materialize.eager(
      withMinHash(newDocs, idCol, textCol, numHashes, k))
    val banded = sigs.select(col("doc_id"), col("sig"), posexplode(
        array((0 until bands).map(b =>
          md5(concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))): _*)))
      .select(col("doc_id"), col("sig"), col("pos").as("band"),
        col("col").as("band_key"))
    val agree = size(filter(zip_with(col("sig"), col("csig"),
      (a, b) => a.isNotNull && a === b), x => x))
    val dup = banded.join(
        index.select(col("band"), col("band_key"),
          col("doc_id").as("src"), col("sig").as("csig")),
        Seq("band", "band_key"))
      .dropDuplicates("doc_id", "src")
      .filter(agree >= math.ceil(estThreshold * numHashes).toInt)
      .groupBy(col("doc_id")).agg(min(col("src")).as("dup_src"))
    Postings.verdicts(sigs.select(col("doc_id")), dup)
  }

  /** Exact Jaccard restricted to a candidate pair set: shingle postings
    * are first semi-joined down to candidate docs, so verification cost
    * scales with the candidates, not the corpus (the property that makes
    * LSH the 100 TB path). */
  def verifyJaccard(docs: DataFrame, idCol: String, textCol: String,
      cand: DataFrame, threshold: Double, k: Int = 3): DataFrame = {
    val candDocs = cand.select(col("doc_a").as("_cand_id"))
      .union(cand.select(col("doc_b").as("_cand_id"))).distinct()
    // prune docs BEFORE shingling: verification cost scales with the
    // candidate set, not the corpus. No broadcast hint — Catalyst
    // broadcasts small candidate sets and falls back to a shuffled semi
    // join when the candidate list itself outgrows the driver.
    val docsSub = docs.join(candDocs,
      col(idCol) === col("_cand_id"), "left_semi")
    val sh = shingleHashIndex(docsSub, idCol, textCol, k)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    Postings.pairCounts(sh, Seq("shingle"), maxDf = 0)
      .join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** CROSS-corpus near-duplicate pairs — the near-dup tier of benchmark
    * decontamination: [[contaminationOverlap]] screens EXACT n-gram
    * overlap; this catches paraphrased or partially-copied benchmark
    * documents that exact overlap understates. The corpus's MinHash
    * band buckets join the PROBE set's buckets (corpus-x-probe, not a
    * self-join) and candidates verify with exact cross Jaccard, so the
    * output has no false positives. Scale shape: band hashing is
    * constant work per corpus doc, and the probe side (an eval
    * benchmark) is tiny next to a training corpus — its banded frame
    * broadcasts, so the corpus side never shuffles for candidate
    * generation; verification touches candidate docs only. Output one
    * (doc_id, probe_id, jaccard) row per pair at or above `threshold`;
    * a probe drawn from the corpus never matches itself (id guard). */
  def crossNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      probes: DataFrame, probeIdCol: String, probeTextCol: String,
      threshold: Double, bands: Int = 8, rowsPerBand: Int = 2,
      k: Int = 3): DataFrame = {
    def bandKeys(df: DataFrame, id: String, text: String): DataFrame =
      withMinHash(df, id, text, bands * rowsPerBand, k)
        .select(col("doc_id"), posexplode(
          array((0 until bands).map(b =>
            md5(concat_ws("|", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val cand = Materialize.eager(
      bandKeys(docs, idCol, textCol).as("x")
        .join(broadcast(bandKeys(probes, probeIdCol, probeTextCol).as("y")),
          col("x.band") === col("y.band") &&
            col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct())
    // two-sided verify, shingling only the candidate docs of each side
    val shA = shingleHashIndex(docs.join(
        cand.select(col("doc_a").as("_cid")).distinct(),
        col(idCol) === col("_cid"), "left_semi"), idCol, textCol, k)
    val shB = shingleHashIndex(probes.join(
        cand.select(col("doc_b").as("_cid")).distinct(),
        col(probeIdCol) === col("_cid"), "left_semi"),
      probeIdCol, probeTextCol, k)
    val sa = shA.groupBy(col("doc_id")).agg(count(lit(1)).as("na"))
    val sb = shB.groupBy(col("doc_id")).agg(count(lit(1)).as("nb"))
    shA.as("a").join(shB.as("b"), col("a.shingle") === col("b.shingle"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("c"))
      .join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .join(sa.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .join(sb.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"))
      .select(col("doc_a").as("doc_id"), col("doc_b").as("probe_id"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination check: per corpus document, how many of
    * its distinct k-shingles appear anywhere in the probe set (an eval
    * benchmark) — the n-gram-overlap screen run before training on a
    * scraped corpus. ONE corpus scan, ONE shuffle: the probe set's
    * distinct shingles (eval benchmarks are tiny next to a training
    * corpus, so the broadcast is bounded by design) left-join onto the
    * corpus shingle index as a hit flag, then a single per-doc
    * aggregation counts total and hit shingles together — no second
    * pass, no second aggregation, no post-join. */
  def contaminationOverlap(docs: DataFrame, idCol: String, textCol: String,
      probes: DataFrame, probeTextCol: String, k: Int = 3): DataFrame = {
    val corpusSh = shingleHashIndex(docs, idCol, textCol, k)
    val probeSh = shingleHashIndex(
      probes.select(lit(0L).as("_pid"), col(probeTextCol)), "_pid", probeTextCol, k)
      .select(col("shingle")).distinct().withColumn("_hit", lit(1))
    // no forced broadcast hint: eval benchmarks are tiny so AQE promotes
    // the join to broadcast on its own, but a caller decontaminating
    // against a LARGE probe corpus still gets a shuffle join instead of
    // a driver-OOM-ing mandatory broadcast
    corpusSh.join(probeSh, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        (col("n_contaminated").cast("double") / col("n_shingles"))
          .as("contaminated_fraction"))
  }

  /** Duplicated-substring coverage (the exact-substring dedup signal
    * from Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): hash every k-token window, mark windows whose
    * exact text occurs ≥2 times anywhere in the corpus (including
    * within one document), and report per document the fraction of its
    * tokens covered by the UNION of duplicated windows — the quantity
    * substring dedup would remove.
    *
    * Shape at scale: the split array binds once per row; windows
    * shuffle as 8-byte xxhash64 keys (never strings) for the one
    * corpus-wide occurrence-count window; surviving (duplicated)
    * windows — a small subset — flow to a per-doc interval-union
    * window (running max of window end over start order) and one
    * aggregation. Hot window hashes (boilerplate) skew the hash
    * partition; AQE's skew handling applies, and nothing quadratic
    * exists anywhere: cost is windows-in, duplicated-windows out. */
  /** Fused per-doc window-hash kernel (the t46 precedent: interpreted
    * HOF bodies re-evaluate per element; a compiled loop is ~50x
    * cheaper): FNV-1a-64 each token ONCE, then combine the k token
    * hashes per window — O(chars + windows·k) long ops per doc. The
    * hash is engine-internal (the oracle keys on the window STRING),
    * so the function choice only has to be deterministic and
    * collision-sparse; 64 bits gives ~n²/2⁶⁵ collision odds, the same
    * budget shingleHashIndex documents. */
  private val windowHashKernel =
    udf((text: String, k: Int) => {
      if (text == null) Seq.empty[(Long, Long)]
      else {
        val tk = text.split(" ", -1)
        val n = tk.length - k + 1
        if (n <= 0) Seq.empty[(Long, Long)]
        else {
          val th = new Array[Long](tk.length)
          var j = 0
          while (j < tk.length) {
            var h = 0xcbf29ce484222325L
            val s = tk(j)
            var c = 0
            while (c < s.length) { h ^= s.charAt(c); h *= 0x100000001b3L; c += 1 }
            th(j) = h
            j += 1
          }
          (0 until n).map { i =>
            var h = 0xcbf29ce484222325L
            var w = i
            while (w < i + k) { h ^= th(w); h *= 0x100000001b3L; w += 1 }
            (i.toLong, h)
          }
        }
      }
    })

  /** (doc_id, start) of every duplicated k-token window — the shared
    * candidate pipeline of `dupSubstringCoverage` (measures) and
    * `dupSubstringRemove` (edits). */
  private def dupWindowStarts(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val wins = docs.select(col(idCol).as("doc_id"),
        explode(windowHashKernel(col(textCol), lit(k))).as("w"))
      .select(col("doc_id"), col("w._1").as("start"), col("w._2").as("wh"))
      // both the occurrence count and the join probe read this frame;
      // materialize the (narrow: doc_id, start, wh) rows once instead
      // of running the explode+hash twice (minHashLshPairs precedent);
      // cluster-safe via Materialize
      .transform(Materialize.eager)
    // duplicated-window detection as hash-agg + semi-join, NOT a
    // count-over-hash window: the window form sorts every window
    // occurrence by hash; the aggregate combines map-side and the join
    // probe side is only the (small) duplicated-hash set, which AQE
    // broadcasts when it fits
    val dupWh = wins.groupBy("wh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("wh")
    wins.join(dupWh, Seq("wh"), "left_semi")
  }

  def dupSubstringCoverage(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("tk"))
    val dup = dupWindowStarts(docs, idCol, textCol, k)
    val byDoc = Window.partitionBy("doc_id").orderBy("start")
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = dup
      .withColumn("prev_end", max(col("start") + k).over(byDoc))
      .withColumn("add", greatest(lit(0L), col("start") + k -
        greatest(col("start"), coalesce(col("prev_end"), lit(0L)))))
      .groupBy("doc_id").agg(sum("add").as("covered_tokens"))
    base.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens")).as("dup_coverage"))
  }

  /** Exact-substring dedup REMOVAL (the operation Lee et al. actually
    * perform, where `dupSubstringCoverage` only measures): cut every
    * token covered by the union of duplicated k-token windows and emit
    * each document's kept text — the complement of the duplicated
    * spans, fragments joined back with single spaces.
    *
    * Shape at scale: the duplicated starts come from the shared
    * hash-agg + semi-join pipeline (nothing quadratic); span union is
    * gaps-and-islands over a per-doc window (running is-new-island
    * flag, one running sum, one groupBy to merged [s,e) islands); the
    * complement is computed per document from the sorted island array
    * with ONE fold over it (few islands per doc), never a per-token
    * join. A token-level anti-join would shuffle every token of the
    * corpus; this shuffles only the duplicated window starts and the
    * island summaries. */
  def dupSubstringRemove(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("tk"))
    val dup = dupWindowStarts(docs, idCol, textCol, k)
    val prevW = Window.partitionBy("doc_id").orderBy("start")
      .rowsBetween(Window.unboundedPreceding, -1)
    val runW = Window.partitionBy("doc_id").orderBy("start")
    // merged islands of overlapping/adjacent [start, start+k) spans
    val islands = dup
      .withColumn("prev_end", max(col("start") + k).over(prevW))
      .withColumn("new_island",
        (col("start") > coalesce(col("prev_end"), lit(Long.MinValue))).cast("int"))
      .withColumn("island", sum(col("new_island")).over(runW))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("start")).as("s"), (max(col("start")) + k).as("e"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("isl"))
    // kept text = fold over the island array: emit the gap before each
    // island, track the consumed position, then the tail after the last
    val kept = aggregate(col("isl"),
      struct(lit(0L).as("pos"), array().cast("array<string>").as("arr")),
      (acc, i) => struct(
        i.getField("e").as("pos"),
        concat(acc.getField("arr"),
          slice(col("tk"), acc.getField("pos") + 1,
            greatest(i.getField("s") - acc.getField("pos"), lit(0L)))).as("arr")),
      acc => concat(acc.getField("arr"),
        slice(col("tk"), acc.getField("pos") + 1,
          greatest(size(col("tk")) - acc.getField("pos"), lit(0L)))))
    base.join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        when(col("isl").isNull, col("tk")).otherwise(kept).as("_kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("_kept")).cast("long").as("kept_tokens"),
        array_join(col("_kept"), " ").as("kept_text"))
  }

  /** Paragraph-level exact dedup (the C4 line-dedup contract — Raffel
    * et al. 2020 §2.2 — applied to fixed W-token blocks, since the
    * corpus has no line structure): a block is KEPT iff it is the first
    * corpus occurrence of its text in (doc_id, block index) order;
    * every later identical block is removed; documents are reassembled
    * from surviving blocks in order. Differs from dupSubstringRemove in
    * granularity AND keep rule: that operator cuts EVERY occurrence of
    * duplicated sliding windows; this one keeps the first copy.
    *
    * Shape at scale: one shuffle partitioned by md5(block) for the
    * first-occurrence window (both engines key on the same hash, so the
    * decision is identical even under a collision; at 100 TB the
    * partition key stays 16 bytes however long blocks get), one shuffle
    * back on doc_id to reassemble — both single-pass, linear. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = blockTokens
    val blocks = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tk"))
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0),
          ((size(col("tk")) + lit(w - 1)) / lit(w)).cast("int") - 1)).as("i"))
      .select(col("doc_id"), col("i"),
        array_join(slice(col("tk"), col("i") * w + 1, lit(w)), " ").as("block"))
    val rn = row_number().over(
      Window.partitionBy(md5(col("block"))).orderBy(col("doc_id"), col("i")))
    blocks.withColumn("_keep", rn === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("_keep").cast("int")).cast("long").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("_keep"),
            struct(col("i"), col("block"))))),
          x => x.getField("block")), " ").as("kept_text"))
  }

  /** Near-duplicate KEY pairs at edit distance <= 1 via deletion
    * neighborhoods (the FastSS scheme, Bocek et al. 2007): each key
    * emits itself plus its |key| single-character deletions; any two
    * keys within one edit share a variant (substitution: both delete
    * the differing position; insert/delete: the longer key deletes the
    * extra character), so candidates come from a variant-bucket join
    * and one levenshtein call verifies each — never a quadratic cross
    * join (sharing a variant only bounds the distance by 2, hence the
    * verify). The URL/title near-match operator a curation pipeline
    * uses for key-level dedup.
    *
    * Shape at scale: |key|+1 short variants per row, shuffled by
    * variant; bucket sizes stay ~1 for hash-like or natural keys, so
    * candidate volume is linear in corpus size. */
  def fuzzyKeyPairs(df: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val variants = df
      .select(col(idCol).cast("long").as("id"), col(keyCol).as("key"))
      .select(col("id"), col("key"),
        explode(expr("transform(sequence(0, length(key)), i -> " +
          "IF(i = 0, key, concat(substr(key, 1, i - 1), " +
          "substr(key, i + 1, length(key)))))")).as("var"))
    variants.as("x").join(variants.as("y"),
        col("x.var") === col("y.var") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.key").as("key_a"), col("y.key").as("key_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("key_a"), col("key_b")).cast("int"))
      .filter(col("dist") <= 1) // one DP evaluation per candidate
  }

  /** 64-bit SimHash over whitespace tokens: each token votes its md5
    * bits; the sign of each bit-position sum forms the fingerprint.
    * Pure Scala UDF (md5 via MessageDigest) — deterministic. */
  val simHash64: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((tokens: Seq[String]) => {
      val votes = new Array[Int](64)
      val mdProto = java.security.MessageDigest.getInstance("MD5")
      tokens.foreach { tk =>
        val d = mdProto.digest(tk.getBytes("UTF-8"))
        var h = 0L
        var i = 0
        while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    })

  /** SimHash near-dup pairs: band the 64-bit fingerprint into 4 x 16-bit
    * chunks; pairs agreeing on any chunk are candidates (guaranteed to
    * include all pairs with hamming distance <= 3), verified by exact
    * hamming distance <= maxHamming. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6): DataFrame = {
    val sigs = docs.select(col(idCol).as("doc_id"),
      simHash64(split(col(textCol), " ")).as("sim"))
    // chunk b = bits [16b, 16b+16): extract with shift+mask
    val chunks = sigs.select(col("doc_id"), col("sim"), posexplode(
        array((0 until 4).map(b =>
          pmod(shiftrightunsigned(col("sim"), b * 16), lit(65536L))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    val cand = chunks.as("x").join(chunks.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.sim").as("sim_a"),
        col("y.doc_id").as("doc_b"), col("y.sim").as("sim_b")).distinct()
    cand
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  case class WinnowFp(doc_id: Long, pos: Int, fp: String)

  /** WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    * the MOSS algorithm): hash every k-token gram, slide a window of
    * `w` consecutive hashes, select each window's MINIMUM hash
    * (rightmost position on ties), and dedup selections by position.
    * The guarantee that makes this the overlap-detection index at
    * 100 TB: any shared token run of length >= w + k - 1 shares at
    * least one selected fingerprint, while expected density is
    * 2/(w+1) — the index is ~(w+1)/2 x smaller than full k-gram
    * posting lists WITH a provable recall floor, where uniform
    * sampling has none.
    *
    * The kernel is per-document local (token array in hand), so this
    * is one mapPartitions pass with no shuffle; the hash is the md5
    * hex of the space-joined gram and "minimum" is lexicographic on
    * the hex — identical ordering in the DuckDB replay. Positions are
    * 1-based (the oracle's list indexing). The O(n*w) window scan is
    * deliberate: w is single-digit in practice and the branch-free
    * scan beats a deque's allocation churn at these sizes. */
  /** The per-document winnowing kernel — selected (1-based position,
    * fingerprint) pairs in selection order. Factored out so the batch
    * op ([[winnowFingerprints]]) and the streaming verdicts
    * (`StreamingNearDup.winnowVerdicts`) derive fingerprints from the
    * IDENTICAL code path (pinned goldens on both sides). */
  private[operators] def winnowSelect(md: java.security.MessageDigest,
      text: String, k: Int, w: Int): Seq[(Int, String)] = {
    val tk = text.split(" ", -1)
    val n = tk.length - k + 1
    if (n <= 0) Nil
    else {
      val grams = new Array[String](n)
      var i = 0
      while (i < n) {
        val sb = new java.lang.StringBuilder(tk(i))
        var j = 1
        while (j < k) { sb.append(' ').append(tk(i + j)); j += 1 }
        md.reset()
        grams(i) = graft.evm.Hex
          .encode(md.digest(sb.toString.getBytes("UTF-8")))
          .substring(2)
        i += 1
      }
      if (n <= w) {
        // degenerate: one window over everything
        var best = 0
        var p = 1
        while (p < n) { if (grams(p) <= grams(best)) best = p; p += 1 }
        Seq((best + 1, grams(best)))
      } else {
        val sel = scala.collection.mutable.LinkedHashSet.empty[Int]
        var jw = 0
        while (jw + w <= n) {
          var best = jw
          var p = jw + 1
          while (p < jw + w) {
            if (grams(p) <= grams(best)) best = p // rightmost tie
            p += 1
          }
          sel += best
          jw += 1
        }
        sel.iterator.map(p => (p + 1, grams(p))).toSeq
      }
    }
  }

  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5)(
      implicit s: SparkSession): Dataset[WinnowFp] = {
    import s.implicits._
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    docs.select(col(idCol).cast("long").as("_id"), col(textCol).as("_t"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) =>
          winnowSelect(md, text, k, w).iterator
            .map { case (p, g) => WinnowFp(id, p, g) }
        }
      }
  }

  case class CdcChunk(doc_id: Long, start: Int, n_tokens: Int, ch: String)

  /** CONTENT-DEFINED CHUNKING at the token level — the LBFS/FastCDC
    * principle applied to text: a chunk boundary falls after token i
    * exactly when the md5 of the `window`-token run ending at i has a
    * last hex digit below `nibbles` (boundary probability nibbles/16,
    * expected chunk 16/nibbles tokens — tune to the document length
    * scale; short-doc corpora want denser boundaries so interior
    * chunks exist at all).
    * Boundaries depend only on LOCAL content, so chunking
    * RE-SYNCHRONIZES within ~`window` tokens of any edit and every
    * untouched span chunks identically whatever its offset — the
    * property fixed-size chunking lacks and the reason CDC is the
    * storage-dedup standard. Emitted chunks carry their md5 (of the
    * space-joined span) and drop spans shorter than `minTokens`
    * (sub-window spans match by chance, not by content).
    *
    * This is the PURE stateless form: boundary positions are a
    * content predicate alone, so the DuckDB oracle replays chunking
    * exactly. Production CDC adds hard min/max chunk bounds, which
    * make the boundary set stateful (suppression depends on the last
    * boundary) — that knob belongs at this seam but is deliberately
    * out of the oracle-gated core. One mapPartitions pass, no
    * shuffle. */
  /** The per-document stateless-CDC kernel — (1-based start, token
    * count, chunk md5) triples. Factored out so the batch op
    * ([[cdcChunks]]) and the streaming verdicts
    * (`StreamingNearDup.cdcChunkVerdicts`) chunk through the IDENTICAL
    * code path. */
  private[operators] def cdcChunksOf(md: java.security.MessageDigest,
      text: String, window: Int, minTokens: Int,
      nibbles: Int): Seq[(Int, Int, String)] = {
    val tk = text.split(" ", -1)
    val n = tk.length
    if (n == 0) Nil
    else {
      // boundary AFTER token i (1-based) iff the window hash's
      // last nibble is 0
      val edges = scala.collection.mutable.ArrayBuffer(0)
      var i = window
      while (i <= n) {
        val sb = new java.lang.StringBuilder(tk(i - window))
        var j = i - window + 1
        while (j < i) { sb.append(' ').append(tk(j)); j += 1 }
        md.reset()
        val h = md.digest(sb.toString.getBytes("UTF-8"))
        if ((h(15) & 0x0f) < nibbles) edges += i
        i += 1
      }
      emitChunks(md, tk, edges, n, minTokens).toSeq
    }
  }

  /** Shared edge-list → chunk emission tail for BOTH CDC forms —
    * appends the tail edge, md5s each [s0, e0) span, drops spans
    * shorter than `minTokens`. The bounded and unbounded chunkers
    * must emit identically per their scaladoc contract; this is the
    * single code path that guarantees it. */
  private def emitChunks(md: java.security.MessageDigest,
      tk: Array[String], edges: scala.collection.mutable.ArrayBuffer[Int],
      n: Int, minTokens: Int): Iterator[(Int, Int, String)] = {
    def hex(b: Array[Byte]): String = graft.evm.Hex.encode(b).substring(2)
    if (edges.last != n) edges += n
    edges.iterator.zip(edges.iterator.drop(1)).flatMap {
      case (s0, e0) =>
        val len = e0 - s0
        if (len < minTokens) Iterator.empty
        else {
          val sb = new java.lang.StringBuilder(tk(s0))
          var j = s0 + 1
          while (j < e0) { sb.append(' ').append(tk(j)); j += 1 }
          md.reset()
          Iterator.single((s0 + 1, len,
            hex(md.digest(sb.toString.getBytes("UTF-8")))))
        }
    }
  }

  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 4, minTokens: Int = 4, nibbles: Int = 1)(
      implicit s: SparkSession): Dataset[CdcChunk] = {
    import s.implicits._
    require(window >= 1 && minTokens >= 1, "window and minTokens must be >= 1")
    require(nibbles >= 1 && nibbles <= 15,
      "nibbles (boundary probability = nibbles/16) must be in 1..15")
    docs.select(col(idCol).cast("long").as("_id"), col(textCol).as("_t"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) =>
          cdcChunksOf(md, text, window, minTokens, nibbles).iterator
            .map { case (s0, len, h) => CdcChunk(id, s0, len, h) }
        }
      }
  }

  /** [[cdcChunks]] with HARD MIN/MAX chunk bounds — the production
    * LBFS/FastCDC form (closes round-10 gap #2): a predicate boundary
    * is SUPPRESSED while the running chunk is shorter than `minChunk`
    * tokens, and a boundary is FORCED once it reaches `maxChunk` —
    * so a pathological corpus whose window hashes are boundary-dense
    * (or boundary-free) can no longer degenerate to single-token
    * (or whole-document) chunks. The boundary set is therefore
    * STATEFUL — each edge depends on the previous accepted edge — so
    * the SQL oracle cannot replay it (the [[cdcChunks]] scaladoc
    * already drew this line); the t79 gate pins a golden instead.
    *
    * Re-synchronization survives in the bounded form the way it does
    * in FastCDC: after master and copy accept one COMMON predicate
    * boundary (which happens within ~maxChunk tokens of any splice,
    * since suppression windows realign once a shared boundary is
    * taken), every subsequent edge is computed from identical local
    * content AND identical last-edge state, so interior chunks match
    * again. Same emission contract as [[cdcChunks]]: chunks shorter
    * than `minTokens` drop (only the final chunk can be, with
    * minChunk >= minTokens). One mapPartitions pass, no shuffle. */
  def cdcChunksBounded(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 4, minTokens: Int = 4, nibbles: Int = 1,
      minChunk: Int = 8, maxChunk: Int = 64)(
      implicit s: SparkSession): Dataset[CdcChunk] = {
    import s.implicits._
    require(window >= 1 && minTokens >= 1, "window and minTokens must be >= 1")
    require(nibbles >= 1 && nibbles <= 15,
      "nibbles (boundary probability = nibbles/16) must be in 1..15")
    require(minChunk >= 1 && maxChunk >= minChunk,
      "need 1 <= minChunk <= maxChunk")
    docs.select(col(idCol).cast("long").as("_id"), col(textCol).as("_t"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) =>
          val tk = text.split(" ", -1)
          val n = tk.length
          if (n == 0) Iterator.empty
          else {
            val edges = scala.collection.mutable.ArrayBuffer(0)
            var last = 0
            var i = 1
            while (i <= n) {
              val run = i - last
              // FastCDC min-skip: while the running chunk is below
              // minChunk no predicate boundary can be accepted, so
              // skip the window hash entirely (~minChunk/avgChunk of
              // all MD5 work on the hot path) — result-identical.
              val predicate = run >= minChunk && i >= window && {
                val sb = new java.lang.StringBuilder(tk(i - window))
                var j = i - window + 1
                while (j < i) { sb.append(' ').append(tk(j)); j += 1 }
                md.reset()
                (md.digest(sb.toString.getBytes("UTF-8"))(15) & 0x0f) < nibbles
              }
              if (run >= maxChunk || predicate) {
                edges += i
                last = i
              }
              i += 1
            }
            emitChunks(md, tk, edges, n, minTokens)
              .map { case (s0, len, h) => CdcChunk(id, s0, len, h) }
          }
        }
      }
  }

  /** Document overlap pairs from CDC chunks: shared DISTINCT chunk
    * hashes >= `minShared`, posting-list expansion with the family's
    * distinct-doc df cap. Because chunk boundaries re-synchronize,
    * a long span embedded at ANY offset inside junk shares its
    * interior chunks with the source — the shift-tolerant exact-span
    * overlap detector, complementary to [[winnowOverlapPairs]]
    * (winnowing samples k-grams with a recall guarantee; CDC matches
    * whole variable-size spans byte-exactly). */
  def cdcOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 4, minTokens: Int = 4, minShared: Int = 2,
      maxDf: Int = 0, nibbles: Int = 1)(
      implicit s: SparkSession): DataFrame =
    overlapPairs(
      cdcChunks(docs, idCol, textCol, window, minTokens, nibbles).toDF(),
      "ch", minShared, maxDf)

  /** [[cdcOverlapPairs]] over BOUNDED chunks ([[cdcChunksBounded]]) —
    * the production pairing: same posting-list kernel, chunk
    * boundaries carry the min/max state. Gate: t79 (pinned golden —
    * the stateful boundary set is outside SQL replay). */
  def cdcOverlapPairsBounded(docs: DataFrame, idCol: String,
      textCol: String, window: Int = 4, minTokens: Int = 4,
      minShared: Int = 2, maxDf: Int = 0, nibbles: Int = 1,
      minChunk: Int = 8, maxChunk: Int = 64)(
      implicit s: SparkSession): DataFrame =
    overlapPairs(
      cdcChunksBounded(docs, idCol, textCol, window, minTokens, nibbles,
        minChunk, maxChunk).toDF(),
      "ch", minShared, maxDf)

  /** Shared pairing kernel of the CDC chunk and winnowing families:
    * distinct (doc, `key`) sets (materialized once) → per-key posting
    * lists with the distinct-doc `maxDf` cap BEFORE aggregation (the
    * families' skew guard against corpus boilerplate) → ordered pair
    * expansion → shared DISTINCT key count `n_shared` >= `minShared`
    * ([[Postings.pairCounts]]). */
  private def overlapPairs(rows: DataFrame, key: String, minShared: Int,
      maxDf: Int): DataFrame =
    Postings.pairCounts(
        Materialize.eager(rows.select(col("doc_id"), col(key)).distinct()),
        Seq(key), maxDf, distinctDocs = true, as = "n_shared")
      .filter(col("n_shared") >= minShared)


  /** Version stamp for the winnowing fingerprint function
    * ([[winnowFingerprints]] — gram hash, window-min selection, tie
    * rule): bump when any of those change; existing winnow indexes
    * must then be rebuilt. Parameter choices (k, w) are NOT covered —
    * screen with the same (k, w) the index was built with. Stamps are
    * namespaced per family in thousand blocks (winnow = 2000 + v; the
    * Multimodal audio/spectral precedent) so cross-family screens
    * fail fast at every version pair; 2001 = v1. */
  val WinnowFpVersion: Int = 2001

  /** Persisted WINNOWING fingerprint INDEX — the overlap-detection
    * member of the incremental-index family (t69 minhash bands / m85
    * pHash chunks / m113 spectral codes; closes round-10 gap #3):
    * fingerprint the corpus ONCE into one row per DISTINCT (fp, doc),
    * write it (bucketed by fp in production, so probes are
    * shuffle-free), and screen every ingest batch with
    * [[dedupAgainstWinnowIndex]] — standing corpora stop
    * re-fingerprinting per run. Rows carry [[WinnowFpVersion]] so a
    * fingerprint-function change fails fast instead of silently
    * matching nothing. [[IncrementalIndex.append]]-compatible. */
  def winnowIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5)(implicit s: SparkSession): DataFrame =
    Materialize.eager(
      winnowFingerprints(docs, idCol, textCol, k, w).toDF()
        .select(col("doc_id"), col("fp")).distinct())
      .select(col("fp"), col("doc_id"), lit(WinnowFpVersion).as("fp_ver"))

  /** Screen an ingest batch against a pre-built [[winnowIndex]]: the
    * batch fingerprints once, equi-joins the index on fp, and a probe
    * is an overlap-duplicate of the lowest corpus doc sharing
    * >= `minShared` distinct fingerprints (the [[winnowOverlapPairs]]
    * metric — by the winnowing guarantee, any shared >= w+k-1-token
    * run surfaces). Returns one verdict row per batch doc that
    * produced at least one fingerprint (the family contract: docs too
    * short to fingerprint are absent, not judged kept). Enforces
    * [[WinnowFpVersion]]; screen with the (k, w) the index was built
    * with. */
  def dedupAgainstWinnowIndex(probes: DataFrame, index: DataFrame,
      idCol: String, textCol: String, k: Int = 4, w: Int = 5,
      minShared: Int = 3)(implicit s: SparkSession): DataFrame =
    screenAgainstFpIndex(
      Materialize.eager(
        winnowFingerprints(probes, idCol, textCol, k, w).toDF()
          .select(col("doc_id"), col("fp")).distinct()),
      index, "fp", minShared,
      Postings.Stamp(WinnowFpVersion, "winnow", "winnowIndex"))

  /** Version stamp for the CDC chunk function ([[cdcChunks]] /
    * [[cdcChunksBounded]] — window hash, boundary predicate, chunk
    * hash): bump when any of those change. Parameter choices (window,
    * nibbles, bounds) are NOT covered — screen with the parameters
    * the index was built with. Namespaced (cdc = 3000 + v); 3001 =
    * v1. */
  val CdcFpVersion: Int = 3001

  /** Persisted CDC chunk INDEX — the shift-tolerant exact-span member
    * of the incremental family (closes round-10 gap #3 for the CDC
    * side): chunk the corpus ONCE into one row per DISTINCT
    * (chunk hash, doc), stamped with [[CdcFpVersion]], and screen
    * ingest batches with [[dedupAgainstCdcIndex]]. Because boundaries
    * re-synchronize, a corpus span embedded at ANY offset inside a
    * probe still lands on its source through the index. Bounded
    * chunking (`minChunk`/`maxChunk` > 0 → [[cdcChunksBounded]])
    * must be mirrored at screen time. */
  def cdcChunkIndex(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 4, minTokens: Int = 4, nibbles: Int = 1,
      minChunk: Int = 0, maxChunk: Int = 0)(
      implicit s: SparkSession): DataFrame = {
    requireBoundedCdcParams(minChunk, maxChunk, minTokens)
    Materialize.eager(
      (if (minChunk > 0 || maxChunk > 0)
        cdcChunksBounded(docs, idCol, textCol, window, minTokens, nibbles,
          math.max(1, minChunk), if (maxChunk > 0) maxChunk else Int.MaxValue)
      else cdcChunks(docs, idCol, textCol, window, minTokens, nibbles))
        .toDF().select(col("doc_id"), col("ch")).distinct())
      .select(col("ch"), col("doc_id"), lit(CdcFpVersion).as("fp_ver"))
  }

  /** Guard for the bounded-CDC entry points: [[cdcChunksBounded]]'s
    * documented invariant — only a doc's FINAL chunk may be shorter
    * than `minTokens` — holds only when `minChunk >= minTokens`. A
    * smaller minChunk compiles and runs, but interior chunks below
    * minTokens silently drop from the index, weakening the
    * shared-chunk overlap metric with no error; fail fast instead. */
  private def requireBoundedCdcParams(minChunk: Int, maxChunk: Int,
      minTokens: Int): Unit =
    if (minChunk > 0 || maxChunk > 0)
      require(minChunk >= minTokens,
        s"bounded CDC chunking needs minChunk >= minTokens " +
          s"(got minChunk=$minChunk, minTokens=$minTokens): interior " +
          "chunks shorter than minTokens are dropped, so a smaller " +
          "minChunk silently weakens the overlap metric")

  /** Screen an ingest batch against a pre-built [[cdcChunkIndex]]:
    * shared DISTINCT chunk hashes >= `minShared` (the
    * [[cdcOverlapPairs]] metric) → duplicate of the lowest matching
    * corpus doc. Same contract shape as [[dedupAgainstWinnowIndex]];
    * enforces [[CdcFpVersion]]. */
  def dedupAgainstCdcIndex(probes: DataFrame, index: DataFrame,
      idCol: String, textCol: String, window: Int = 4, minTokens: Int = 4,
      nibbles: Int = 1, minShared: Int = 2, minChunk: Int = 0,
      maxChunk: Int = 0)(implicit s: SparkSession): DataFrame = {
    requireBoundedCdcParams(minChunk, maxChunk, minTokens)
    screenAgainstFpIndex(
      Materialize.eager(
        (if (minChunk > 0 || maxChunk > 0)
          cdcChunksBounded(probes, idCol, textCol, window, minTokens,
            nibbles, math.max(1, minChunk),
            if (maxChunk > 0) maxChunk else Int.MaxValue)
        else cdcChunks(probes, idCol, textCol, window, minTokens, nibbles))
          .toDF().select(col("doc_id"), col("ch")).distinct()),
      index, "ch", minShared,
      Postings.Stamp(CdcFpVersion, "CDC", "cdcChunkIndex"))
  }

  /** Shared screen kernel for the fingerprint-set indexes
    * ([[winnowIndex]] / [[cdcChunkIndex]]): fail-fast version check
    * (the audio-index pattern — a cross-version screen compiles and
    * runs but matches NOTHING, the silent-miss failure mode), then
    * probe-fps x index equi-join on `keyCol`, shared-distinct count
    * >= minShared, dup_src = lowest matching corpus doc. */
  private def screenAgainstFpIndex(fps: => DataFrame, index: DataFrame,
      keyCol: String, minShared: Int, stamp: Postings.Stamp): DataFrame = {
    Postings.requireStamp(index, stamp)
    val probeFps = fps
    val dup = probeFps.join(
        index.select(col(keyCol), col("doc_id").as("src")), Seq(keyCol))
      .groupBy(col("doc_id"), col("src")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minShared)
      .groupBy(col("doc_id")).agg(min(col("src")).as("dup_src"))
    Postings.verdicts(probeFps.select(col("doc_id")).distinct(), dup)
  }

  /** Document overlap pairs from winnowing fingerprints: posting
    * lists per fingerprint hash (maxDf dropping corpus-boilerplate
    * grams BEFORE aggregation — the family's standard skew cap, df =
    * distinct docs), ordered pair expansion, shared DISTINCT
    * fingerprint count >= `minShared`. By the winnowing guarantee, a
    * pair sharing any >= w+k-1-token run surfaces; `minShared` > 1
    * suppresses single common-phrase hits. */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5, minShared: Int = 3, maxDf: Int = 0)(
      implicit s: SparkSession): DataFrame =
    overlapPairs(winnowFingerprints(docs, idCol, textCol, k, w).toDF(),
      "fp", minShared, maxDf)
}
