package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis operators for training-data pipelines: token stats,
  * quality scoring, language ID, fingerprinting. All expression-based
  * (whole-stage codegen, no UDFs on the hot path) except where noted.
  */
object TextAnalysis {

  /** Whitespace tokens: ANY run of whitespace (spaces, tabs, newlines)
    * separates tokens, and boundary whitespace yields no empty tokens —
    * so real-world text tokenizes the way a human counts words. On
    * single-space-normalized text (the oracle corpus, or anything put
    * through [[normalizeWhitespace]]) this is exactly split-on-one-
    * space, which is what the DuckDB oracles replay. */
  def tokens(text: Column): Column =
    split(regexp_replace(text, "^\\s+|\\s+$", ""), "\\s+")

  /** Canonical whitespace normalization for raw corpora: collapse every
    * whitespace run to one space and strip the boundaries. The
    * single-space-contract operators (the [[TextDedup]] window/shingle
    * family, [[repetitionSignals]], the BPE merge replay) assume this
    * shape; applying it first makes their ' '-joined token arithmetic
    * exact on arbitrary input. */
  def normalizeWhitespace(text: Column): Column =
    trim(regexp_replace(text, "\\s+", " "))

  /** Confusable normalization for exact-dedup robustness — the
    * homoglyph-spam vector (t74): a re-post that swaps Latin letters
    * for their Cyrillic lookalikes and sprinkles zero-width characters
    * hashes to a different exact key while reading identically.
    * Normalization folds the seven highest-traffic Cyrillic
    * lookalikes back to Latin (а е о с р х у — the confusable core of
    * every homoglyph attack alphabet), maps NBSP to a plain space,
    * and strips the zero-width/invisible class (ZWSP ZWNJ ZWJ BOM
    * soft-hyphen). Pure `translate` + `regexp_replace` — codegen'd
    * column expressions, no UDF, and replayable verbatim in the
    * oracle's SQL dialect. Deliberately NOT full NFKC (that needs ICU
    * and changes width/ligature semantics the corpus may care
    * about); this is the cheap high-recall core, applied before
    * hashing, never stored back. */
  def normalizeConfusables(text: Column): Column =
    regexp_replace(
      translate(text,
        "\u0430\u0435\u043e\u0441\u0440\u0445\u0443\u00a0",
        "aeocpxy "),
      "[\u200b\u200c\u200d\ufeff\u00ad]", "")

  /** Token statistics: whitespace tokens, distinct tokens, a cheap
    * BPE-ish subtoken estimate (ceil(len/4) pieces per token). */
  def tokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"),
      size(w).as("n_tokens"),
      size(array_distinct(w)).as("n_distinct_tokens"),
      aggregate(transform(w, x => ceil(length(x) / lit(4.0))), lit(0L),
        (acc, x) => acc + x).as("n_subtokens"),
      length(col(textCol)).as("n_chars"))
  }

  /** GPT-2-shaped pretokenizer pattern: contraction suffix, space-
    * prefixed letter runs, digit runs, punctuation runs, residual
    * spaces. Restricted to constructs with identical semantics in Java
    * regex (Spark) and RE2 (DuckDB) — no lookaround, no \p classes —
    * so the oracle replays it verbatim. */
  private val bpePretokenPattern = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  /** BPE-style pretokenizer counts — the regex-sharded token estimate
    * real tokenizers (GPT-2/tiktoken family) apply before merges, a
    * closer proxy for training-token cost than whitespace words. Pure
    * per-row expressions, no shuffle; ratios are exact integer counts
    * through one IEEE division. */
  def bpePretokenStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = regexp_extract_all(col(textCol), lit(bpePretokenPattern), lit(0))
    docs.select(col(idCol).as("doc_id"),
      size(toks).as("n_pretokens"),
      size(array_distinct(toks)).as("n_distinct_pretokens"),
      (aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
        .cast("double") / size(toks)).as("mean_pretoken_len"))
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Quality signals: punctuation ratio, stopword ratio, mean token
    * length. All ratios are exact integer counts divided as doubles, so
    * results are bit-stable across engines. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = tokens(col(textCol))
    val nTok = size(w)
    docs.select(col(idCol).as("doc_id"),
      (length(regexp_replace(col(textCol), "[^.!?,;]", "")).cast("double") /
        length(col(textCol))).as("punct_ratio"),
      (size(filter(w, x => x.isin(stopwords: _*))).cast("double") / nTok)
        .as("stopword_ratio"),
      (aggregate(transform(w, x => length(x)), lit(0), (acc, x) => acc + x).cast("double") / nTok)
        .as("mean_token_len"))
  }

  /** Tiny n-gram/stopword language-ID heuristic: score each candidate
    * language by overlap between the document's tokens and a per-language
    * marker list; argmax via lexicographic struct comparison (score, then
    * language code — deterministic tie-break). */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val profiles = Map(
      "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "it"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
      "es" -> Seq("el", "la", "de", "que", "y", "es", "un"),
      "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
      "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))
    val w = array_distinct(tokens(col(textCol)))
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, marks) =>
      struct(size(array_intersect(w, array(marks.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }
    docs.select(col(idCol).as("doc_id"),
      greatest(scored: _*).getField("lang").as("predicted_lang"),
      greatest(scored: _*).getField("score").as("marker_hits"))
  }

  /** Deterministic train/val/test assignment: bucket = first 4 hex
    * digits of md5(id) mod 100 — a pure function of the id, so the split
    * is stable across runs, engines, cluster sizes, and data order (the
    * property random() sampling lacks). Weights are integer percents. */
  def deterministicSplit(docs: DataFrame, idCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val bucket = (conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("int") % 100).as("bucket")
    docs.select(col(idCol), bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Fused single-pass repetition kernel: all three signals are
    * document-LOCAL statistics, so one traversal of the token array with
    * two count-maps and a trigram set computes them with ZERO shuffles —
    * embarrassingly parallel, work linear in corpus tokens, strictly
    * better than exploding n-grams through three aggregations at any
    * scale. Tokenization matches `split(text, " ")` exactly (split limit
    * -1 keeps trailing empties), so results are bit-identical to
    * [[repetitionSignalsExploded]] and the DuckDB oracle. */
  private val repetitionKernel =
    udf((text: String) => {
      if (text == null) (0.0, 0.0, 0.0)
      else {
        val tk = text.split(" ", -1)
        val n1 = tk.length
        val n2 = n1 - 1
        val n3 = n1 - 2
        val uni = new java.util.HashMap[String, Int](n1 * 2)
        var topU = 0
        var i = 0
        while (i < n1) {
          val c = uni.getOrDefault(tk(i), 0) + 1
          uni.put(tk(i), c)
          if (c > topU) topU = c
          i += 1
        }
        var topB = 0
        if (n2 > 0) {
          val bi = new java.util.HashMap[String, Int](n2 * 2)
          i = 0
          while (i < n2) {
            val g = tk(i) + " " + tk(i + 1)
            val c = bi.getOrDefault(g, 0) + 1
            bi.put(g, c)
            if (c > topB) topB = c
            i += 1
          }
        }
        var dist3 = 0
        if (n3 > 0) {
          val tri = new java.util.HashSet[String](n3 * 2)
          i = 0
          while (i < n3) {
            tri.add(tk(i) + " " + tk(i + 1) + " " + tk(i + 2))
            i += 1
          }
          dist3 = tri.size
        }
        (if (n1 > 0) topU.toDouble / n1 else 0.0,
          if (n2 > 0) topB.toDouble / n2 else 0.0,
          if (n3 > 0) (n3 - dist3).toDouble / n3 else 0.0)
      }
    })

  /** Repetition signals (the Gopher/C4 filter family, token-level):
    * fraction of tokens covered by the single most frequent token and
    * bigram, and the duplicate-trigram fraction. Computed by the fused
    * per-doc kernel — a pure map, no shuffle.
    *
    * PRECONDITION: `idCol` must be unique per row. The kernel computes
    * per-ROW statistics; [[repetitionSignalsExploded]] pools grams per
    * doc_id before computing fractions, so on duplicated ids the two
    * diverge (one row per duplicate here, one pooled row there). The
    * per-row form is canonical — a document is a row, and pooling
    * unrelated rows that share an id is never the intended signal. */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), repetitionKernel(col(textCol)).as("_r"))
      .select(col("doc_id"),
        col("_r._1").as("top_token_fraction"),
        col("_r._2").as("top_bigram_fraction"),
        col("_r._3").as("dup_trigram_fraction"))

  /** Reference implementation of [[repetitionSignals]] as relational
    * explode → per-(doc, gram) count → per-doc max/sum/distinct. Kept as
    * the semantic spec (the cross-check test asserts bit-identical
    * output); the fused kernel wins at every scale because the signals
    * are doc-local — this shape pays three shuffles of exploded n-grams
    * for them. */
  def repetitionSignalsExploded(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def gramStats(k: Int): DataFrame =
      docs.select(col(idCol).as("doc_id"),
          explode(TextDedup.wordShingles(col(textCol), k)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top"),
          sum(col("c")).as("n"), count(lit(1)).as("ndist"))
    def frac(a: Column, b: Column): Column =
      coalesce(a.cast("double") / b, lit(0.0))
    val t1 = gramStats(1).select(col("doc_id"),
      frac(col("top"), col("n")).as("top_token_fraction"))
    val t2 = gramStats(2).select(col("doc_id"),
      frac(col("top"), col("n")).as("top_bigram_fraction"))
    val t3 = gramStats(3).select(col("doc_id"),
      frac(col("n") - col("ndist"), col("n")).as("dup_trigram_fraction"))
    // docs too short for a k-gram have no exploded rows → 0.0
    docs.select(col(idCol).as("doc_id"))
      .join(t1, Seq("doc_id"), "left").join(t2, Seq("doc_id"), "left")
      .join(t3, Seq("doc_id"), "left")
      .na.fill(0.0, Seq("top_token_fraction", "top_bigram_fraction",
        "dup_trigram_fraction"))
  }

  /** Gopher-style quality gate: token-count bounds, mean-token-length
    * bounds, stopword evidence, symbol ratio. Emits the individual
    * boolean signals plus the combined keep flag so downstream mixes can
    * re-weight rather than re-filter. Exact integer-ratio arithmetic —
    * bit-stable across engines. */
  def gopherQualityFlags(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 5, maxTokens: Int = 100000,
      minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
      minStopwordHits: Int = 1, maxSymbolRatio: Double = 0.1): DataFrame = {
    val w = tokens(col(textCol))
    val nTok = size(w)
    val meanLen = aggregate(transform(w, x => length(x)), lit(0),
      (acc, x) => acc + x).cast("double") / nTok
    val stopHits = size(filter(w, x => x.isin(stopwords: _*)))
    val symbolRatio = length(regexp_replace(col(textCol), "[^#…|<>{}]", ""))
      .cast("double") / length(col(textCol))
    val okTokens = nTok.between(minTokens, maxTokens)
    val okMeanLen = meanLen.between(minMeanLen, maxMeanLen)
    val okStop = stopHits >= minStopwordHits
    val okSymbols = symbolRatio <= maxSymbolRatio
    docs.select(col(idCol).as("doc_id"),
      okTokens.as("ok_token_count"),
      okMeanLen.as("ok_mean_token_len"),
      okStop.as("ok_stopwords"),
      okSymbols.as("ok_symbol_ratio"),
      (okTokens && okMeanLen && okStop && okSymbols).as("keep"))
  }

  /** Uniform hash in [0, 1): the first 52 bits (13 hex digits) of
    * md5(seed + ":" + id), divided by 2^52. Every step is exact in
    * IEEE754 doubles, so the value is bit-identical across runs,
    * engines, and cluster sizes — the property random() lacks. */
  def hashUniform(id: Column, seed: Long = 42L): Column =
    conv(substring(md5(concat(lit(seed.toString), lit(":"), id.cast("string"))), 1, 13),
      16, 10).cast("long").cast("double") / lit(4503599627370496.0) // 2^52

  /** Deterministic stratified sampling — the dataset-mixing primitive:
    * keep a row iff hashUniform(id) < rate(stratum). Per-stratum rates
    * compile to a when-chain (a broadcast lookup in expression form), so
    * the operator is a pure filter: no shuffle, full codegen, prunes at
    * the scan when combined with partition columns. Re-weighting a mix
    * = re-running with new rates; membership for unchanged rates is
    * stable because the hash ignores everything but (seed, id). */
  def stratifiedSample(docs: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      seed: Long = 42L): DataFrame = {
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (stratum, r)) => when(col(strataCol) === stratum, lit(r)).otherwise(acc)
    }
    docs.filter(hashUniform(col(idCol), seed) < rate)
  }

  /** Sequence packing — the standard pretraining layout: documents are
    * concatenated in id order and the token stream is cut every
    * `capacity` tokens; each document reports the context-window chunk
    * its FIRST token lands in plus its offset there.
    *
    * Distributed prefix sum, not a global window: a single
    * `Window.orderBy(id)` would collapse 100 TB onto one partition.
    * Instead ids are range-bucketed; the running sum is (cumsum within
    * bucket) + (offset of the bucket), where the bucket offsets come
    * from a P-row aggregate — the only global step is a window over
    * those P rows. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      capacity: Int, buckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxIdRow = docs.agg(max(col(idCol).cast("long"))).head()
    if (maxIdRow.isNullAt(0))
      return docs.sparkSession.emptyDataFrame.select(
        lit(0L).as("doc_id"), lit(0).as("n_tokens"), lit(0L).as("start_token"),
        lit(0L).as("chunk_id"), lit(0L).as("chunk_offset")).limit(0)
    val span = math.max(1L, maxIdRow.getLong(0) / buckets + 1)
    val base = docs.select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).as("n_tokens"))
      .withColumn("pbucket", floor(col("doc_id") / lit(span)))
    val inBucket = Window.partitionBy(col("pbucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bucketTotals = base.groupBy(col("pbucket"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
    val bucketOffsets = bucketTotals.withColumn("bucket_offset",
      coalesce(sum(col("bucket_tokens")).over(
        Window.orderBy(col("pbucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    base
      .withColumn("cum_in_bucket", sum(col("n_tokens")).over(inBucket))
      .join(broadcast(bucketOffsets.select(col("pbucket"), col("bucket_offset"))),
        Seq("pbucket"))
      .withColumn("start_token",
        col("bucket_offset") + col("cum_in_bucket") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("start_token"),
        // `div` = exact integer division (a double `/` would round at
        // token offsets beyond 2^53)
        expr(s"start_token div $capacity").as("chunk_id"),
        pmod(col("start_token"), lit(capacity.toLong)).as("chunk_offset"))
  }

  /** Per-(doc, token) occurrence counts with the corpus-wide term
    * frequency (`tf`) and document frequency (`df`) attached via ONE
    * window over the token partition — no self-join, no second scan of
    * the exploded token stream. Shuffle shape at scale: explode →
    * hash-agg on (doc_id, token) with map-side combine (the only
    * pass over the raw tokens) → one exchange on token for the window.
    * Hot stopword tokens skew the token partition; AQE's skew handling
    * applies, and the windowed frame is distinct (doc, token) pairs —
    * already vocabulary×docs-bounded, far smaller than the token
    * stream itself. */
  private def docTokenFreq(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val byToken = org.apache.spark.sql.expressions.Window.partitionBy("token")
    docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .withColumn("tf", sum("c").over(byToken))
      .withColumn("df", count(lit(1)).over(byToken))
  }

  /** Corpus-frequency rarity profile per document: how common are this
    * document's tokens in the whole corpus? Training-data pipelines use
    * this as a quality/novelty signal (high hapax fraction ≈ unusual or
    * noisy text; high average term frequency ≈ boilerplate). All
    * outputs derive from integer counts — the two ratios are single
    * IEEE divisions of exact longs, so results are bit-stable across
    * engines (no float sums, no logs). */
  def unigramRarity(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docTokenFreq(docs, idCol, textCol)
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        sum(col("c") * col("tf")).as("sum_tf"),
        sum(when(col("tf") === 1L, col("c")).otherwise(0L)).as("n_hapax"),
        min("tf").as("min_tf"))
      .select(col("doc_id"), col("n_tokens"),
        (col("sum_tf").cast("double") / col("n_tokens")).as("avg_tf"),
        (col("n_hapax").cast("double") / col("n_tokens")).as("hapax_frac"),
        col("min_tf"))

  /** Top-k terms per document by a TF-IDF-style score. To stay
    * bit-stable across engines the idf is kept rational: score =
    * tf·N/df computed as one long multiply (exact below 2^53) followed
    * by ONE double division — no log, no float accumulation. Ties
    * break on the token string, so the top-k set is deterministic.
    * row_number is a per-doc window; the frame entering it is the
    * (doc, token) tf table, not the token stream. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = docTokenFreq(docs, idCol, textCol)
      .crossJoin(broadcast(nDocs))
      .withColumn("score", (col("c") * col("n_docs")).cast("double") / col("df"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token"))
    scored.withColumn("rank", row_number().over(byDoc))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("c").as("tf_doc"),
        col("df"), col("score"), col("rank"))
  }

  /** PII patterns restricted to constructs with identical semantics in
    * Java regex (Spark) and RE2 (DuckDB): character classes, bounded
    * repetition, \b word boundaries — no lookaround, no backreferences.
    * Greedy matching on these patterns backtracks to the same leftmost
    * match in both engines, so counts and redactions replay exactly.
    *
    * Known imprecision (accepted for a scrub audit, where over-matching
    * errs safe): the IPv4 pattern takes any 1-3-digit octets, so it
    * also redacts non-addresses like `999.999.999.999`, and it matches
    * the leading four octets of longer dotted runs (`1.2.3.4.5` →
    * `<IP>.5`) — version strings can inflate `n_ipv4`. A strict form
    * would swap each `\d{1,3}` for the octet-range alternation
    * `(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)` (still in the Java/RE2 common
    * subset). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII detection + redaction — the scrub pass every shared-corpus
    * pipeline runs before training: emails and IPv4 literals are
    * counted, then replaced with typed placeholder tokens (emails
    * first, so an address's host part can never half-match the IP
    * pattern after partial rewriting). Pure per-row regex expressions —
    * codegen'd, no shuffle, no UDF — so the scrub adds a map stage and
    * nothing else at any scale. Emits counts, the redacted text, and
    * its length (the audit columns a removal report needs). */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(col(textCol), emailPattern, "<EMAIL>"),
      ipv4Pattern, "<IP>")
    docs.select(col(idCol).as("doc_id"),
      size(regexp_extract_all(col(textCol), lit(emailPattern), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(ipv4Pattern), lit(0)))
        .as("n_ipv4"),
      redacted.as("redacted_text"),
      length(redacted).as("n_chars_redacted"))
  }

  /** Canonical form of an absolute http(s) URL — the dedup key of
    * every web-crawl curation stage (two crawls of one page differ in
    * scheme/host case, a default port, a trailing slash, tracker
    * params, and the fragment; URL-keyed exact dedup without
    * canonicalization misses all of them). Rules, each a documented
    * crawl-dedup standard:
    *  - scheme and host lowercase; a leading `www.` label stripped
    *    when at least two labels follow (`www.com` itself survives)
    *  - the scheme's default port dropped (`:443` on https, `:80` on
    *    http); any other port KEPT (a real distinct origin)
    *  - path case preserved (paths are case-sensitive), one trailing
    *    slash stripped (never the root `/`; an empty path becomes `/`)
    *  - query params split on `&`, `utm_*` trackers and empties
    *    dropped, the rest SORTED (param order is transport noise),
    *    the `?` itself dropped when nothing survives
    *  - the fragment dropped (client-side only).
    * Pure regex/array expressions in the Java-regex/RE2 common subset
    * (the [[piiScrub]] contract) — codegen'd, no shuffle, replayable
    * verbatim in the DuckDB oracle. */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    // strip a leading www. LABEL only when >= 2 labels follow —
    // `www.com` is a registrable name, not tracker noise (group
    // capture, not lookahead: the Java/RE2 common subset)
    val host = regexp_replace(
      lower(regexp_extract(hostport, "^([^:]*)", 1)),
      "^www\\.([^.]+\\..*)", "$1")
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val keepPort = (port =!= "") &&
      !((scheme === "https" && port === "443") ||
        (scheme === "http" && port === "80"))
    val rest = regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    val path0 = regexp_extract(rest, "^([^?]*)", 1)
    val path = when(path0 === "", lit("/"))
      .otherwise(regexp_replace(path0, "(.)/$", "$1"))
    val query = regexp_extract(rest, "\\?(.*)$", 1)
    val kept = array_join(array_sort(filter(split(query, "&"),
      p => p =!= "" && !startswith(p, lit("utm_")))), "&")
    concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")), path,
      when(kept =!= "", concat(lit("?"), kept)).otherwise(lit("")))
  }

  /** Registered domain of a canonical URL's host by the 2-label
    * heuristic (`a.b.site.com` → `site.com`). Scope line: a real
    * public-suffix list is DATA (multi-label suffixes like `co.uk`
    * need the published table); the heuristic is exact on gTLD hosts
    * and the suffix table plugs in as a broadcast join, not a code
    * change. */
  def registeredDomain(urlCanon: Column): Column = {
    val host = regexp_extract(
      regexp_extract(urlCanon, "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1),
      "^([^:]*)", 1)
    regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
  }

  /** Compact subset of the published Public Suffix List (the
    * multi-label ccTLD suffixes under which names are registered one
    * level deeper — `site.co.uk`, not `co.uk`). Single-label TLDs are
    * deliberately absent: for them the 2-label heuristic of
    * [[registeredDomain]] is already exact, so the table only needs
    * the entries where the heuristic is WRONG. This is data, not code:
    * a production deployment swaps in the full published list (~9k
    * suffix rows — still broadcast-trivial) without touching the plan.
    * Wildcard rules (`*.ck`) and exceptions (`!www.ck`) are out of
    * scope for the subset; they'd add one more broadcast column, not
    * a new shuffle. */
  val publicSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "ltd.uk",
    "plc.uk", "sch.uk", "nhs.uk", "police.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "geek.nz", "gen.nz", "maori.nz", "iwi.nz",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp",
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br", "adv.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn", "mil.cn",
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "gov.in",
    "ac.in", "edu.in", "res.in", "mil.in",
    "co.kr", "or.kr", "ne.kr", "re.kr", "pe.kr", "go.kr", "ac.kr",
    "ms.kr", "hs.kr",
    "co.za", "net.za", "org.za", "web.za", "gov.za", "ac.za", "edu.za",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar", "int.ar",
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "bel.tr",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg", "per.sg",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.my", "net.my", "org.my", "edu.my", "gov.my", "mil.my",
    "co.id", "or.id", "net.id", "web.id", "ac.id", "sch.id", "go.id",
    "my.id", "biz.id",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il", "k12.il",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg", "sci.eg",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa", "pub.sa",
    "co.th", "in.th", "or.th", "ac.th", "go.th", "net.th", "mi.th",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn", "biz.vn", "int.vn",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph", "ngo.ph",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk", "fam.pk",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng", "sch.ng",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke", "me.ke",
  )

  /** SQL `(VALUES ...)` body for [[publicSuffixes]] — the oracle's
    * copy of the table is GENERATED from the same Seq so the two
    * engines can never drift. */
  def publicSuffixesValuesSql: String =
    publicSuffixes.map(s => s"('${sqlQuote(s)}')").mkString(", ")

  /** Single-quote escape for strings interpolated into generated SQL
    * VALUES bodies. The hardcoded subset is quote-free, but the table
    * is documented as a data swap point (the full published list),
    * so the generator must not break — or inject — on a quoted
    * entry. */
  private def sqlQuote(s: String): String = s.replace("'", "''")

  /** Suffix-table form of [[registeredDomain]] + per-domain cap: the
    * registered domain is the label immediately below the longest
    * matching public suffix. With the subset table (all 2-label
    * suffixes), a host whose last-2 labels match a suffix registers at
    * 3 labels (`news.site.co.uk` → `site.co.uk`); otherwise the
    * 2-label heuristic stands (`a.b.site.com` → `site.com`). Both
    * verdicts are emitted (`domain` table-form, `domain_h` heuristic)
    * with their own rank/kept pairs so the divergence is auditable —
    * under the heuristic every `*.co.uk` registrant collapses into ONE
    * `co.uk` mega-domain and the cap throttles them collectively.
    *
    * Scale shape: the suffix table is static kilobytes → a broadcast
    * hash join (zero added shuffle; `.explain` shows
    * BroadcastHashJoin with the scan untouched). The two caps are two
    * window shuffles; a deployment that only wants the table verdict
    * drops `domain_h` and pays exactly [[urlDomainCap]]'s single
    * shuffle. A host that IS a bare public suffix (`co.uk` itself,
    * no registrant label) keeps the suffix as its domain — same as
    * the heuristic, and what the published algorithm does absent a
    * registrable name. */
  def urlDomainCapPsl(spark: SparkSession, docs: DataFrame, idCol: String,
      urlCol: String, cap: Int): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val canon = canonicalizeUrl(col(urlCol))
    val host = regexp_extract(
      regexp_extract(col("url_canon"), "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1),
      "^([^:]*)", 1)
    val suffixes = spark.createDataFrame(
      publicSuffixes.map(Tuple1(_))).toDF("suffix")
    val joined = docs
      .select(col(idCol).as("doc_id"), canon.as("url_canon"))
      .withColumn("last2", regexp_extract(host, "([^.]+\\.[^.]+)$", 1))
      .withColumn("last3",
        regexp_extract(host, "([^.]+\\.[^.]+\\.[^.]+)$", 1))
      .join(broadcast(suffixes), col("last2") === col("suffix"), "left")
      .withColumn("domain",
        when(col("suffix").isNotNull && col("last3") =!= "", col("last3"))
          .otherwise(col("last2")))
      .withColumn("domain_h", col("last2"))
    val hashOrd = Seq(md5(col("doc_id").cast("string")), col("doc_id"))
    val byPsl = Window.partitionBy(col("domain")).orderBy(hashOrd: _*)
    val byH = Window.partitionBy(col("domain_h")).orderBy(hashOrd: _*)
    joined
      .withColumn("domain_rank", row_number().over(byPsl))
      .withColumn("kept", col("domain_rank") <= cap)
      .withColumn("rank_h", row_number().over(byH))
      .withColumn("kept_h", col("rank_h") <= cap)
      .select(col("doc_id"), col("url_canon"), col("domain"),
        col("domain_rank"), col("kept"), col("domain_h"), col("rank_h"),
        col("kept_h"))
  }

  /** FULL Public-Suffix-List rule set, in the published list's own
    * syntax (https://publicsuffix.org/list/ — the format is three rule
    * kinds, matched label-by-label from the right):
    *  - plain rules (`co.uk`, `pref.aichi.jp`) — the host's public
    *    suffix candidate is the rule itself;
    *  - wildcard rules (`*.ck`) — `*` matches exactly one label, so
    *    every `<anything>.ck` is a public suffix;
    *  - exception rules (`!www.ck`) — the named host is NOT a public
    *    suffix despite a covering wildcard; its public suffix is the
    *    rule minus its leftmost label.
    * Prevailing rule: a matching exception wins outright; otherwise
    * the rule with the most labels; otherwise the implicit `*` (the
    * last label alone). Registered domain = public suffix plus one
    * label (the host itself when no registrant label exists).
    *
    * This Seq is a curated subset of the published list that covers
    * every RULE KIND the full file uses — all of [[publicSuffixes]]
    * as plain rules, the real `*.ck`/`!www.ck` pair, the Japanese
    * city wildcard+exception blocks, and >2-label plain rules. The
    * full ~9k-row published file parses into exactly this shape
    * (one rule string per non-comment line), so a production
    * deployment swaps the data without touching the plan — still
    * broadcast-trivial kilobytes. */
  val publicSuffixRules: Seq[String] =
    publicSuffixes ++ Seq(
      // wildcard + exception blocks (verbatim rule syntax)
      "*.ck", "!www.ck",
      "*.bd", "*.er", "*.fk", "*.kh", "*.mm", "*.np", "*.pg",
      "*.kawasaki.jp", "!city.kawasaki.jp",
      "*.kitakyushu.jp", "!city.kitakyushu.jp",
      "*.kobe.jp", "!city.kobe.jp",
      "*.nagoya.jp", "!city.nagoya.jp",
      "*.sapporo.jp", "!city.sapporo.jp",
      "*.sendai.jp", "!city.sendai.jp",
      "*.yokohama.jp", "!city.yokohama.jp",
      // >2-label plain rules
      "pref.aichi.jp", "pref.akita.jp", "pref.osaka.jp",
      "city.osaka.jp", "city.kyoto.jp",
      "act.edu.au", "nsw.edu.au", "qld.edu.au", "vic.edu.au",
      "k12.ca.us", "k12.ny.us", "cc.ca.us", "lib.ca.us")

  /** The COMPLETE published Public Suffix List, shipped as library
    * data (`src/main/resources/public_suffix_list.dat`, the verbatim
    * https://publicsuffix.org/list/ file as distributed by the OS
    * `publicsuffix` package — ~9.5k rules including the unicode IDN
    * entries, both the ICANN and private-domain sections, exactly as
    * the published algorithm consumes them). Parsed per the published
    * format: comment lines start `//`, blank lines are separators,
    * each rule is the line up to the first whitespace. This is the
    * default rule table of [[urlDomainCapPslFull]];
    * [[publicSuffixRules]] stays as the curated, auditable fallback
    * subset. */
  lazy val publishedSuffixRules: Seq[String] = {
    val in = getClass.getResourceAsStream("/public_suffix_list.dat")
    require(in != null,
      "public_suffix_list.dat missing from the classpath — the " +
        "published PSL ships as a library resource")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.takeWhile(!_.isWhitespace))
      .filter(l => l.nonEmpty && !l.startsWith("//"))
      .toVector
    finally in.close()
  }

  /** A rule set compiled to match-table rows: `(key, kind, psLen)`
    * where `key` is the equality-join tail (the rule for
    * plain/exception rules, the rule minus `*.` for wildcards),
    * `kind` is p/w/e, and `psLen` is the public-suffix label count
    * the match implies (wildcard: key labels + 1 for the `*`;
    * exception: key labels - 1 — the rule minus its leftmost
    * label). */
  def suffixRuleRows(rules: Seq[String]): Seq[(String, String, Int)] =
    rules.map { r =>
      val nl = (s: String) => s.count(_ == '.') + 1
      if (r.startsWith("!")) { val k = r.drop(1); (k, "e", nl(k) - 1) }
      else if (r.startsWith("*.")) { val k = r.drop(2); (k, "w", nl(k) + 1) }
      else (r, "p", nl(r))
    }

  /** [[publicSuffixRules]] (the curated subset) compiled via
    * [[suffixRuleRows]]. */
  def publicSuffixRuleRows: Seq[(String, String, Int)] =
    suffixRuleRows(publicSuffixRules)

  /** Longest host tail any rule key can match — the candidate-tail
    * explosion bound (a data swap that adds deeper rules raises it
    * automatically; the full published file reads 5). */
  def suffixMaxTail(rules: Seq[String]): Int =
    suffixRuleRows(rules).map(_._1.count(_ == '.') + 1).max

  def publicSuffixMaxTail: Int = suffixMaxTail(publicSuffixRules)

  /** SQL `(VALUES ...)` body for a compiled rule set — the oracle's
    * rule table is GENERATED from the same Seq so the two engines can
    * never drift. */
  def suffixRulesValuesSql(rules: Seq[String]): String =
    suffixRuleRows(rules).map { case (k, kind, l) =>
      s"('${sqlQuote(k)}', '$kind', $l)" }.mkString(", ")

  def publicSuffixRulesValuesSql: String =
    suffixRulesValuesSql(publicSuffixRules)

  /** FULL-PSL form of [[urlDomainCapPsl]]: registered domains under
    * the complete published-algorithm semantics — wildcard rules,
    * exception rules, >2-label suffixes, longest-match — plus the
    * t87 subset-table verdict (`domain_sub`) kept as the fallback
    * tier so the divergence is auditable (under the 2-label subset,
    * every `*.pref.aichi.jp` registrant collapses into one
    * `aichi.jp` mega-domain and every `<name>.ck` site into its
    * parent's bucket; the full rules register each one level deeper).
    *
    * Execution shape: host labels explode into their last-j tails
    * (j <= [[publicSuffixMaxTail]], a compile-time-small constant —
    * ~5 for the full published file), which equi-join the BROADCAST
    * rule table on the tail key; a wildcard row also requires one
    * registrant label beyond the key (`n >= psLen`), an exception
    * row wins outright, otherwise max(psLen) prevails, default 1
    * (the implicit `*` rule). One map-side explode (bounded fan-out
    * = maxTail), one broadcast hash join, one groupBy(doc_id) — the
    * same aggregate shuffle the cap window needs anyway; no
    * all-pairs, no UDF. The two caps are two window shuffles, as in
    * t87. */
  def urlDomainCapPslFull(spark: SparkSession, docs: DataFrame,
      idCol: String, urlCol: String, cap: Int,
      ruleSet: Seq[String] = publishedSuffixRules): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val canon = canonicalizeUrl(col(urlCol))
    val hostOf = regexp_extract(
      regexp_extract(col("url_canon"), "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1),
      "^([^:]*)", 1)
    val maxTail = suffixMaxTail(ruleSet)
    val base = docs
      .select(col(idCol).as("doc_id"), canon.as("url_canon"))
      .withColumn("host", hostOf)
      .withColumn("n", size(split(col("host"), "\\.")))
    val rules = spark.createDataFrame(suffixRuleRows(ruleSet))
      .toDF("key", "kind", "ps_len")
    // last-j tails of the host, j = 1..min(n, maxTail): the only
    // strings any rule key can equal — an equi-join key, so the rule
    // probe stays a BroadcastHashJoin (never a nested loop)
    val cand = base
      .select(col("doc_id"), col("n"), explode(transform(
        sequence(lit(1), least(col("n"), lit(maxTail))),
        j => array_join(slice(split(col("host"), "\\."), -j, j), ".")))
        .as("tail"))
      .join(broadcast(rules), col("tail") === col("key"))
      // a wildcard's `*` must consume a real label beyond the key
      .filter(col("kind") =!= "w" || col("n") >= col("ps_len"))
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("kind") === "e", col("ps_len"))).as("e_len"),
        max(when(col("kind") =!= "e", col("ps_len"))).as("m_len"))
    val subset = spark.createDataFrame(
      publicSuffixes.map(Tuple1(_))).toDF("suffix")
    val scored = base
      .join(cand, Seq("doc_id"), "left")
      .withColumn("ps_len", coalesce(col("e_len"), col("m_len"), lit(1)))
      .withColumn("labels", split(col("host"), "\\."))
      .withColumn("domain",
        when(col("n") > col("ps_len"),
          array_join(slice(col("labels"), col("n") - col("ps_len"),
            col("ps_len") + lit(1)), "."))
          .otherwise(col("host")))
      .withColumn("last2", regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
      .withColumn("last3",
        regexp_extract(col("host"), "([^.]+\\.[^.]+\\.[^.]+)$", 1))
      .join(broadcast(subset), col("last2") === col("suffix"), "left")
      .withColumn("domain_sub",
        when(col("suffix").isNotNull && col("last3") =!= "", col("last3"))
          .otherwise(col("last2")))
    val hashOrd = Seq(md5(col("doc_id").cast("string")), col("doc_id"))
    val byFull = Window.partitionBy(col("domain")).orderBy(hashOrd: _*)
    val bySub = Window.partitionBy(col("domain_sub")).orderBy(hashOrd: _*)
    scored
      .withColumn("domain_rank", row_number().over(byFull))
      .withColumn("kept", col("domain_rank") <= cap)
      .withColumn("rank_sub", row_number().over(bySub))
      .withColumn("kept_sub", col("rank_sub") <= cap)
      .select(col("doc_id"), col("url_canon"), col("domain"),
        col("domain_rank"), col("kept"), col("domain_sub"),
        col("rank_sub"), col("kept_sub"))
  }

  /** URL-level curation: canonicalize each document's URL, extract its
    * registered domain, and rank documents WITHIN each domain by a
    * deterministic content-blind hash — the per-domain cap every
    * web-scale training mix applies so no single site dominates
    * (`kept = domain_rank <= cap`). Emits the audit columns
    * (url_canon, domain, domain_rank, kept); the caller drops
    * `kept = false` rows or joins the verdict back.
    *
    * Scale shape: canonicalization is a map stage; the cap is ONE
    * shuffle on domain + a per-domain sort. Ranking by md5(id) (not
    * crawl order) makes the kept set a uniform sample, stable under
    * re-partitioning and incremental re-runs. A pathological
    * mega-domain serializes its own rank sort; since only ranks
    * `<= cap` matter, pre-capping each shuffle partition to its local
    * top-cap by hash (a mapPartitions top-k before the window) bounds
    * that tail if a corpus ever hits it — the plan here keeps the
    * declarative window, which AQE handles to the same shape. */
  def urlDomainCap(docs: DataFrame, idCol: String, urlCol: String,
      cap: Int): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    val canon = canonicalizeUrl(col(urlCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col(idCol).as("doc_id"), canon.as("url_canon"),
        registeredDomain(canon).as("domain"))
      .withColumn("domain_rank", row_number().over(w))
      .withColumn("kept", col("domain_rank") <= cap)
  }

  /** Exact-quota dataset mixing: select per-source document counts that
    * realize target proportions `weights` (integer percents) at the
    * largest total the corpus supports. The budget is the bottleneck
    * source's capacity — B = min_s floor(100·n_s / w_s) — and each
    * source contributes its k_s = floor(w_s·B / 100) lowest-md5-hash
    * documents: integer arithmetic end to end (no float rates), and the
    * hash order makes the selected set a pure function of (seed, ids).
    *
    * Scale shape: the per-source counts are one map-side-combined
    * aggregation over few keys (broadcast back); the per-source rank is
    * ONE window partitioned by source. With few huge sources that
    * window sorts each source's rows — the exact-quota price; when an
    * approximate mix suffices at 100 TB, [[stratifiedSample]] is the
    * windowless rate-threshold form of the same hash. */
  def sourceMixSample(docs: DataFrame, idCol: String, srcCol: String,
      weights: Map[String, Int], defaultWeight: Int = 1,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a zero/negative weight makes `cap100 div w` null or negative —
    // silently swallowed by min() here but an error in the DuckDB
    // replay; fail fast instead of diverging on invalid input
    require(weights.values.forall(_ > 0) && defaultWeight > 0,
      "sourceMixSample weights must all be positive")
    val weight = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight)) {
      case (acc, (src, w)) => when(col(srcCol) === src, lit(w)).otherwise(acc)
    }
    val caps = docs.groupBy(col(srcCol)).agg(count(lit(1)).as("n_src"))
      .select(col(srcCol), col("n_src"),
        expr("100 * n_src").as("cap100"), weight.as("w"))
      .select(col(srcCol), col("w"), expr("cap100 div w").as("cap"))
    val budget = caps.agg(min(col("cap")).as("budget"))
    val quotas = caps.crossJoin(broadcast(budget))
      .select(col(srcCol), expr("(w * budget) div 100").as("quota"))
    val bySrc = Window.partitionBy(col(srcCol))
      .orderBy(md5(concat(lit(seed.toString), lit(":"),
        col(idCol).cast("string"))), col(idCol))
    docs.select(col(idCol).as("doc_id"), col(srcCol))
      .withColumn("sample_rank", row_number().over(bySrc))
      .join(broadcast(quotas), Seq(srcCol))
      .filter(col("sample_rank") <= col("quota"))
      .select(col("doc_id"), col(srcCol).as("source"), col("sample_rank"))
  }

  /** Top-k corpus-wide adjacent-pair counts of a space-tokenized
    * `text` column — the per-round count pass both BPE inductions
    * share. Round 17 (guide §1.2 "per-task work", §4.2 batch
    * kernels): the former posexplode + hash-agg shape materialized
    * one generator row PER TOKEN before the partial aggregation and
    * was measured at 91% of the whole batched induction (count
    * 6.9 s of 7.2 s warm at sf0.1, 5 rounds). This kernel
    * keeps the same partial-aggregation semantics — a per-partition
    * HashMap in a tight loop, drained at a bound, partials summed by
    * the same groupBy — and re-measures at ~6x faster per round with
    * the head bit-identical.
    * Java's `split(" ", -1)` matches Spark's `split(text, ' ')`
    * (same regex, same -1 limit), so pair sets agree on every input
    * including empty strings and double spaces.
    *
    * Memory bound (round 18): partials are emitted as LAZY chunks —
    * the output iterator consumes input only until the map hits the
    * bound, drains it as one chunk, and continues when Spark pulls
    * the next chunk. Heap per task is therefore one ~2^20-entry map
    * plus the chunk being drained, regardless of total pair volume
    * (the round-17 shape buffered every drained partial in an eager
    * builder until the partition was fully consumed, so its bound
    * capped nothing). Duplicates across chunks sum out in the
    * groupBy below. */
  private def adjacentPairHead(cur: DataFrame, k: Int)
      : Array[org.apache.spark.sql.Row] = {
    val spark = cur.sparkSession
    import spark.implicits._
    cur.select(col("text")).as[String].mapPartitions { it =>
      val m = new java.util.HashMap[String, Array[Long]]()
      def drain(): Iterator[(String, String, Long)] = {
        val arr = new Array[(String, String, Long)](m.size)
        var j = 0
        m.forEach { (key, v) =>
          val sp = key.indexOf(' ')
          arr(j) = (key.substring(0, sp), key.substring(sp + 1), v(0))
          j += 1
        }
        m.clear()
        arr.iterator
      }
      new Iterator[Iterator[(String, String, Long)]] {
        def hasNext: Boolean = it.hasNext || m.size > 0
        def next(): Iterator[(String, String, Long)] = {
          while (it.hasNext && m.size <= (1 << 20)) {
            val text = it.next()
            if (text != null) {
              val t = text.split(" ", -1)
              var i = 0
              while (i + 1 < t.length) {
                val key = t(i) + " " + t(i + 1)
                val v = m.get(key)
                if (v eq null) m.put(key, Array(1L)) else v(0) += 1L
                i += 1
              }
            }
          }
          drain()
        }
      }.flatten
    }.toDF("a", "b", "n")
      .groupBy(col("a"), col("b")).agg(sum(col("n")).as("n"))
      .orderBy(col("n").desc, col("a"), col("b"))
      .limit(k).collect()
  }

  /** BPE merge-rule induction over the corpus (the iterative half of
    * subword-vocabulary training; `bpePretokenStats` covers the
    * pretokenizer half): for `merges` rounds, count adjacent token
    * pairs corpus-wide, pick the most frequent (ties broken by token
    * order — deterministic), and rewrite the corpus merging that pair
    * with '_'. Returns one row per learned merge (iter, tok_a, tok_b,
    * pair_count).
    *
    * Merge application is a space-padded string replace, identical on
    * both engines: leftmost non-overlapping occurrences merge, so an
    * immediate repeat ('a b a b') merges once per round — string
    * semantics the oracle can replay exactly, where a token-array fold
    * would need DuckDB's broken list_reduce.
    *
    * Shape at scale: each round is one map-side-combined pair count, a
    * 1-row argmax collect (BPE is inherently sequential in its merge
    * list — production trainers batch non-interacting merges per round
    * the same way), and one map-only corpus rewrite. k rounds = k
    * corpus passes; nothing quadratic, no shuffle besides the count. */
  def bpeMergeRules(docs: DataFrame, textCol: String,
      merges: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    require(merges >= 1 && merges <= 16, "merges must be in [1, 16]")
    var cur = docs.select(col(textCol).as("text"))
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    for (it <- 1 to merges) {
      val top = adjacentPairHead(cur, 1)
      require(top.nonEmpty, s"no adjacent pairs left at merge round $it")
      val a = top(0).getString(0)
      val b = top(0).getString(1)
      val n = top(0).getLong(2)
      // tokens are interpolated into the rewrite expression — keep the
      // word-character contract explicit rather than risk an injection
      require(a.matches("\\w+") && b.matches("\\w+"),
        s"bpeMergeRules expects word-character tokens, got '$a' '$b'")
      learned += ((it, a, b, n))
      if (it < merges) // the final round's rewrite would never be read
        // cluster-safe materialization: each round's rewrite is read by
        // every later round — Materialize picks localCheckpoint on
        // local[n], reliable checkpoint / replicated persist on a
        // cluster so one lost executor can't fail the whole induction
        cur = Materialize.eager(cur.select(expr(
          s"trim(replace(concat(' ', text, ' '), ' $a $b ', ' ${a}_$b '))").as("text")))
    }
    import spark.implicits._
    learned.result().toDF("iter", "tok_a", "tok_b", "pair_count")
  }

  /** BATCHED BPE merge-rule induction — the production-scale path past
    * [[bpeMergeRules]]' 16-merge cap (its own doc names the technique:
    * "production trainers batch non-interacting merges per round").
    * Real tokenizers need 32k-100k merges; one driver round-trip + one
    * corpus rewrite PER MERGE can't get there. This variant learns up
    * to `merges` rules in ~merges/batch ROUNDS: each round counts
    * adjacent pairs once, collects a bounded candidate head (the top
    * `remaining*3+32` pairs — a driver-side list of strings, not data),
    * greedily selects candidates in priority order whose token sets are
    * pairwise DISJOINT, and applies all of them in ONE map-only kernel
    * pass over the token array ([[BpeMerger]], rules broadcast).
    *
    * Why disjoint tokens make the batch exact: merges fuse two tokens
    * into one and never create or destroy an adjacency of tokens they
    * don't mention — so applying selected merge (c,d) changes no
    * occurrence of selected (a,b) when {a,b} ∩ {c,d} = ∅, the
    * round-start counts stay true for every selected pair, and the
    * fused rewrite equals applying them sequentially in any order. A
    * candidate that DOES share a token is deferred: its count would be
    * stale after the earlier merge, so it waits for the next round's
    * recount (this is where batched BPE's merge list can diverge from
    * strict sequential induction — the standard, documented
    * approximation). The top candidate of every round is always
    * selected, so each round learns >= 1 rule and the loop terminates.
    *
    * Returns one row per learned rule (iter = global priority order,
    * round = which batch learned it, tok_a, tok_b, pair_count =
    * round-start count). `[[bpeEncode]]` applies the rules in `iter`
    * order unchanged.
    *
    * Shape at scale: cost is ROUNDS (each one map-side-combined pair
    * count + one bounded driver collect + one map-only rewrite), not
    * merges — with a healthy candidate head a round learns dozens of
    * rules, so 64 merges cost ~5-10 corpus passes instead of 64. */
  def bpeMergeRulesBatched(docs: DataFrame, textCol: String,
      merges: Int): DataFrame = {
    val spark = docs.sparkSession
    require(merges >= 1 && merges <= 100000, "merges must be in [1, 100000]")
    var cur = docs.select(col(textCol).as("text"))
    val learned = Seq.newBuilder[(Int, Int, String, String, Long)]
    var got = 0
    var round = 0
    while (got < merges) {
      round += 1
      val remaining = merges - got
      val head = adjacentPairHead(cur, remaining * 3 + 32)
      require(head.nonEmpty, s"no adjacent pairs left at round $round")
      val used = scala.collection.mutable.HashSet.empty[String]
      val batch = Seq.newBuilder[(String, String, Long)]
      var picked = 0
      head.iterator.takeWhile(_ => picked < remaining).foreach { r =>
        val a = r.getString(0); val b = r.getString(1)
        if (!used(a) && !used(b)) {
          // tokens are interpolated into the rewrite expression — keep
          // the word-character contract explicit (same as bpeMergeRules)
          require(a.matches("\\w+") && b.matches("\\w+"),
            s"bpeMergeRulesBatched expects word-character tokens, got '$a' '$b'")
          used += a; used += b
          batch += ((a, b, r.getLong(2)))
          picked += 1
        }
      }
      val rules = batch.result()
      rules.zipWithIndex.foreach { case ((a, b, n), i) =>
        learned += ((got + i + 1, round, a, b, n))
      }
      got += rules.size
      if (got < merges) { // the final round's rewrite would never be read
        // ONE kernel pass for the whole batch (rules broadcast) — the
        // nested-replace chain this replaces falls out of codegen past
        // ~200 rules per round (the JVM 64 KB method limit) and pays a
        // full string scan per rule; the token-array kernel applies
        // the same leftmost-non-overlapping semantics in one pass
        val bc = spark.sparkContext.broadcast(
          new BpeMerger(rules.map(r => (r._1, r._2)).toArray))
        val applyBatch = udf((text: String) => bc.value(text))
        cur = Materialize.eager(cur.select(applyBatch(col("text")).as("text")))
      }
    }
    import spark.implicits._
    learned.result().toDF("iter", "round", "tok_a", "tok_b", "pair_count")
  }

  /** Character-level Shannon entropy per document — the classic cheap
    * gibberish / compressibility screen (low entropy = repeated-char
    * filler, high entropy near log(alphabet) = random noise; real prose
    * sits in a narrow band). One fused per-row kernel, zero shuffles
    * (the [[repetitionSignals]] precedent). Fold order is PINNED: the
    * -p·ln(p) terms sum in ascending character order (TreeMap walk ==
    * the oracle's `list(term ORDER BY c)` under binary collation on the
    * ASCII corpus), ln is bit-identical across JVM and DuckDB libm on
    * identical operands, and final values round to 6 decimals half-up
    * on both sides. Returns (doc_id, char_entropy, n_distinct_chars,
    * distinct_char_ratio). Null/EMPTY documents are absent from the
    * output — entropy over zero characters is undefined, and the SQL
    * replay's per-char UNNEST produces no row for them either (both
    * sides agree on the contract by construction, not by corpus luck). */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("doc_id"),
        charEntropyKernel(col(textCol)).as("_e"))
      .select(col("doc_id"),
        col("_e._1").as("char_entropy"),
        col("_e._2").as("n_distinct_chars"),
        col("_e._3").as("distinct_char_ratio"))
  }

  private def round6k(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val charEntropyKernel = udf((text: String) => {
    if (text == null || text.isEmpty) (0.0, 0, 0.0)
    else {
      val m = new java.util.TreeMap[String, Long]()
      var i = 0
      while (i < text.length) {
        m.merge(String.valueOf(text.charAt(i)), 1L, _ + _)
        i += 1
      }
      val tot = text.length.toDouble
      var acc = 0.0
      m.forEach((_, n) => { val p = n / tot; acc += p * math.log(p) })
      (round6k(-acc), m.size, round6k(m.size / tot))
    }
  })

  /** BPE ENCODE — apply a learned merge list (the [[bpeMergeRules]]
    * output, in iteration order) to the corpus. BPE encoding is greedy
    * by merge PRIORITY: rule 1 rewrites everywhere before rule 2 looks
    * at anything, and within a rule the occurrences merge leftmost
    * non-overlapping with separator consumption — exactly the
    * space-padded string-replace semantics the induction itself used,
    * so encoding the training corpus with its own rules reproduces the
    * final induction state bit-for-bit and the oracle replays it in
    * SQL.
    *
    * Returns (doc_id, text_enc, n_tokens, n_merged): the encoded text
    * (subword tokens space-joined, merged pairs '_'-joined), its REAL
    * post-merge token count, and how many tokens are merged pairs.
    * This closes the tokenizer loop: downstream budget/packing
    * operators ([[tokenBudgetSelect]], [[packSequences]]) tokenize
    * `textCol` by single space, so passing (`text_enc`) feeds them
    * real subword counts instead of whitespace counts.
    *
    * Shape at scale: ONE map-only kernel pass per row over the token
    * ARRAY ([[BpeMerger]]), rules broadcast once per executor — not a
    * k-deep nested `replace` expression, which past a few hundred
    * rules blows the JVM's 64 KB method limit, falls out of codegen,
    * and pays k full-string scans per row. The kernel's per-row cost
    * is O(tokens x rules-that-apply) and FLAT in total vocabulary
    * size, so 32k-100k-rule production vocabularies encode at the
    * same per-row cost as 64-rule test vocabularies (the vocab-growth
    * spec pins this). */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      rules: Seq[(String, String)]): DataFrame = {
    require(rules.nonEmpty, "bpeEncode needs at least one merge rule")
    rules.foreach { case (a, b) =>
      require(a.matches("\\w+") && b.matches("\\w+"),
        s"bpeEncode expects word-character tokens, got '$a' '$b'")
    }
    val bc = docs.sparkSession.sparkContext.broadcast(
      new BpeMerger(rules.toArray))
    val enc = udf((text: String) => bc.value(text))
    val tk = split(col("text_enc"), " ")
    docs.select(col(idCol).cast("long").as("doc_id"),
        enc(col(textCol)).as("text_enc"))
      .select(col("doc_id"), col("text_enc"),
        size(tk).cast("long").as("n_tokens"),
        size(filter(tk, _.contains("_"))).cast("long").as("n_merged"))
  }

  /** Inverse of [[bpeEncode]]: un-apply the merge rules in REVERSE
    * priority order (the last-applied merge splits first, so nested
    * merges — rules whose tokens are themselves '_'-joined pairs —
    * unwind correctly). decode(encode(x)) == x exactly for corpora
    * whose tokens contain no underscore (the merged-token marker;
    * verified empty on the testdata corpus) and whose whitespace is
    * single spaces (the repo-wide tokens() contract). Same kernel
    * shape as the encode ([[BpeSplitter]]): one map-only pass per
    * row, rules broadcast, per-row cost flat in vocabulary size. */
  def bpeDecode(docs: DataFrame, idCol: String, encCol: String,
      rules: Seq[(String, String)]): DataFrame = {
    require(rules.nonEmpty, "bpeDecode needs at least one merge rule")
    val bc = docs.sparkSession.sparkContext.broadcast(
      new BpeSplitter(rules.toArray))
    val dec = udf((text: String) => bc.value(text))
    docs.select(col(idCol).cast("long").as("doc_id"),
      dec(col(encCol)).as("text"))
  }

  /** Temperature-scaled source mixing — the multinomial alpha-sampling
    * rule from multilingual / multi-corpus training (alpha < 1
    * upweights small sources; alpha is FIXED at 0.5 here because
    * sqrt is bit-identical across engines where arbitrary pow is
    * not): per-source weight w_s = sqrt(n_s), quota_s =
    * floor(target * w_s / SUM(w)) with the weight sum folded in
    * source-name order (pinned), selection inside each source by the
    * same deterministic md5 rank as [[sourceMixSample]].
    *
    * Scale shape identical to sourceMixSample: one tiny per-source
    * aggregation broadcast back, one rank window per source. */
  def temperatureMixSample(docs: DataFrame, idCol: String, srcCol: String,
      targetDocs: Long, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(targetDocs > 0, "targetDocs must be positive")
    val weights = docs.groupBy(col(srcCol)).agg(count(lit(1)).as("n_src"))
      .select(col(srcCol), sqrt(col("n_src").cast("double")).as("w"))
    val sumw = weights
      .agg(aggregate(array_sort(collect_list(struct(col(srcCol), col("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("sumw"))
    val quotas = weights.crossJoin(broadcast(sumw))
      .select(col(srcCol),
        floor(lit(targetDocs.toDouble) * col("w") / col("sumw"))
          .cast("long").as("quota"))
    val bySrc = Window.partitionBy(col(srcCol))
      .orderBy(md5(concat(lit(seed.toString), lit(":"),
        col(idCol).cast("string"))), col(idCol))
    docs.select(col(idCol).as("doc_id"), col(srcCol))
      .withColumn("sample_rank", row_number().over(bySrc))
      .join(broadcast(quotas), Seq(srcCol))
      .filter(col("sample_rank") <= col("quota"))
      .select(col("doc_id"), col(srcCol).as("source"), col("sample_rank"))
  }

  /** Corpus-LM cross-entropy score — the CCNet-style quality signal
    * with the corpus ITSELF as the language model (no external LM in
    * this environment, and the in-corpus form is the standard
    * "how typical is this document of the collection" filter): train
    * bigram MLE counts over the whole corpus, then score each document
    * by the mean negative log-likelihood of its bigrams,
    * H(d) = -(1/n_d) * sum_i ln( c(w_{i-1} w_i) / c(w_{i-1} *) ).
    * Low H = boilerplate-typical text, high H = rare constructions —
    * the two tails a curation pipeline inspects.
    *
    * Scale shape: bigram instances explode once; the model is one
    * map-side-combined (a,b) aggregation plus a small per-a rollup
    * (c(a*) = sum_b c(a,b) by construction, so no second corpus pass);
    * scoring joins instances against the model on the bigram key. The
    * per-document sum folds a POSITION-SORTED list left-to-right, so
    * double addition order is pinned and the oracle's ordered
    * list_sum replays it bit-for-bit (the m72 ln/fold precedent).
    * Documents with fewer than 2 tokens emit a null score. */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // (doc, pos, a, b) bigram instances; split array bound once
    val inst = docs.select(col(idCol).as("doc_id"),
        explode(element_at(transform(array(tokens(col(textCol))), { w =>
          when(size(w) >= 2,
            transform(sequence(lit(1), size(w) - 1),
              i => struct(i.as("pos"), element_at(w, i).as("a"),
                element_at(w, i + 1).as("b"))))
            .otherwise(array().cast("array<struct<pos:int,a:string,b:string>>"))
        }), 1)).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.a").as("a"),
        col("g.b").as("b"))
      // both the model aggregation and the scoring join read the
      // instances; materialize the narrow (doc, pos, a, b) rows once
      // instead of re-exploding the corpus per consumer (the
      // dupWindowStarts precedent); cluster-safe via Materialize
      .transform(Materialize.eager)
    val cab = inst.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val ca = cab.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    val model = cab.join(ca, Seq("a"))
      .select(col("a"), col("b"),
        log(col("cab").cast("double") / col("ca").cast("double")).as("lnp"))
    val perDoc = inst.join(model, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("lnp")))),
          lit(0.0), (acc, x) => acc + x.getField("lnp")).as("_sumln"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-(col("_sumln") / col("n_bigrams")), 6).as("cross_entropy"))
    docs.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("cross_entropy"))
  }

  /** Token-budget quality selection — the data-mixing primitive: take
    * documents in (quality DESC, doc_id ASC) order while the cumulative
    * token count stays within `budgetTokens` (a document is selected
    * iff the running total INCLUDING it fits). Quality here is the
    * stopword ratio (exact integer counts through one IEEE divide, so
    * both engines order identically); any deterministic double works.
    *
    * Execution is the q35 binned-selection shape, NOT a global sort:
    * per-partition histograms over the top 16 bits of the quality's
    * order-preserving bit image accumulate (token-sum, doc-count) per
    * bin; the driver walks bins from the top until the budget crosses,
    * then ONE guarded pass fetches only the boundary bin's documents
    * for the exact within-bin cut. Equal qualities share a bin, so the
    * binned result equals the global-order definition exactly — which
    * is what the oracle replays with a plain window cumsum. */
  def tokenBudgetSelect(docs: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long, maxCutBinRows: Int = 4000000): DataFrame = {
    val spark = docs.sparkSession
    val w = tokens(col(textCol))
    // three consumers (histogram, boundary-bin fetch, final flags) read
    // these narrow rows; materialize once instead of re-tokenizing the
    // corpus per pass (the t57 precedent)
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      size(w).cast("long").as("n_tokens"),
      (size(filter(w, x => x.isin(stopwords: _*))).cast("double") / size(w))
        .as("quality"))
      .transform(Materialize.eager)
    def obits(v: Double): Long = {
      val b = java.lang.Double.doubleToRawLongBits(v)
      (if (b < 0) ~b else b | Long.MinValue) >>> 48
    }
    // pass 1: (token-sum, count) per quality bin, merged bounded
    val partMaps = base.rdd.mapPartitions { it =>
      val m = collection.mutable.HashMap[Long, (Long, Long)]()
      it.foreach { r =>
        val bin = obits(r.getDouble(2))
        val (t, c) = m.getOrElse(bin, (0L, 0L))
        m(bin) = (t + r.getLong(1), c + 1)
      }
      Iterator(m)
    }
    val hist =
      if (partMaps.getNumPartitions == 0)
        collection.mutable.HashMap[Long, (Long, Long)]()
      else partMaps.treeReduce { (m1, m2) =>
        val (big, small) = if (m1.size >= m2.size) (m1, m2) else (m2, m1)
        small.foreach { case (k, (t, c)) =>
          val (t0, c0) = big.getOrElse(k, (0L, 0L)); big(k) = (t0 + t, c0 + c)
        }
        big // at most 2^16 bins by construction
      }
    // walk bins top-down: bins fully inside the budget select outright
    val sorted = hist.toSeq.sortBy(-_._1)
    var acc = 0L
    var cutBin = Long.MinValue
    var budgetBefore = 0L
    var fullBins = Set.newBuilder[Long]
    var crossed = false
    sorted.foreach { case (bin, (t, c)) =>
      if (!crossed) {
        if (acc + t <= budgetTokens) { fullBins += bin; acc += t }
        else { crossed = true; cutBin = bin; budgetBefore = acc
          require(c <= maxCutBinRows,
            s"tokenBudgetSelect: boundary bin holds $c documents (> $maxCutBinRows); " +
              "quality values too concentrated for the binned path")
        }
      }
    }
    val full = fullBins.result()
    // pass 2: exact within-bin cut for the boundary bin only
    val selectedInCut: Set[Long] =
      if (cutBin == Long.MinValue) Set.empty
      else {
        val cand = base.rdd.mapPartitions(_.filter(r => obits(r.getDouble(2)) == cutBin)
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))).collect()
        var rem = budgetTokens - budgetBefore
        val sel = Set.newBuilder[Long]
        cand.sortBy { case (id, _, q) => (-q, id) }.foreach { case (id, t, _) =>
          if (t <= rem) { sel += id; rem -= t }
          else rem = -1 // prefix semantics: first overflow ends the take
        }
        sel.result()
      }
    val bcFull = spark.sparkContext.broadcast(full)
    val bcSel = spark.sparkContext.broadcast(selectedInCut)
    val inFull = udf((q: Double) => bcFull.value.contains(obits(q)))
    val inSel = udf((id: Long) => bcSel.value.contains(id))
    base.select(col("doc_id"), col("n_tokens"), col("quality"),
      (inFull(col("quality")) || inSel(col("doc_id"))).as("selected"))
  }

  /** BM25 relevance of every document against a fixed query-term set —
    * the standard retrieval scorer (Robertson/Lucene form,
    * idf = ln((N - df + 0.5)/(df + 0.5) + 1)), used in pipelines to
    * pull topic-targeted subsets out of a web corpus. Pure expressions:
    * one corpus scan for per-doc tf/dl, one tiny stats aggregation
    * (N, Σdl, per-term df — a single broadcast row), one scoring map.
    * Every scoring input is an integral-valued double (counts and
    * lengths), so sums are exact regardless of partitioning, and the
    * scoring expression evaluates in a pinned shape both engines
    * share. */
  def bm25Score(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Score needs at least one query term")
    val w = tokens(col(textCol))
    val perDoc = docs.select(
      col(idCol).as("doc_id") +: size(w).cast("double").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(w, x => x === t)).cast("double").as(s"tf$i")
        }: _*)
    val statAggs = count(lit(1)).cast("double").as("n_docs") +:
      sum(col("dl")).as("sum_dl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double").as(s"df$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("sum_dl") / col("n_docs")
    val score = terms.indices.map { i =>
      val idf = log((col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1.0)
      idf * (col(s"tf$i") * (lit(k1) + 1)) /
        (col(s"tf$i") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("bm25"))
  }

  /** Content-defined document fingerprint: md5 over the sorted distinct
    * token set — stable under token reordering, engine-portable. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      md5(array_join(array_sort(array_distinct(tokens(col(textCol)))), " "))
        .as("fingerprint"))

  /** Rolling polynomial hash of the token stream (order-sensitive
    * fingerprint; the sliding-window shape used for exact substring
    * dedup). Kept below 2^31 so the fold never overflows a long under
    * Spark's default ANSI arithmetic: acc' = (acc*31 + byteSum) mod 2^31. */
  def rollingFingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      aggregate(tokens(col(textCol)), lit(17L),
        (acc, tk) => pmod(acc * lit(31L) +
          aggregate(transform(split(tk, ""), c => ascii(c)), lit(0), (a, x) => a + x),
          lit(2147483648L)))
        .as("rolling_hash"))
}

/** Shared machinery for the token-array BPE kernels: a key -> ascending
  * rule-priority index (duplicate keys keep EVERY index — a pair can
  * legitimately be re-learned after partial merging left alternating
  * occurrences behind), and the monotone-priority driver loop.
  *
  * The loop is exactly equivalent to applying every rule sequentially
  * in priority order: it repeatedly scans the current token array for
  * the lowest-priority applicable rule STRICTLY past the last one
  * applied (a rule's single pass never re-runs, matching one `replace`
  * per rule), applies that rule's pass, and stops when nothing ahead of
  * the pointer matches. Rules skipped between pointer positions had no
  * occurrence in precisely the state sequential application would have
  * shown them. Per-row cost is O(tokens x rules-that-apply) — flat in
  * total vocabulary size, which is what lets a 32k-100k-rule
  * production vocabulary run as one map-only projection. */
private[operators] abstract class BpeKernel(
    keys: Array[String]) extends Serializable {

  /** Built lazily AFTER broadcast deserialization — once per executor,
    * not per task and never per row. */
  @transient private lazy val prio: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]](keys.length * 2)
    keys.zipWithIndex.foreach { case (k, i) =>
      m.merge(k, Array(i), (old, add) => old ++ add) // zipWithIndex ⇒ ascending
    }
    m
  }

  /** Lowest rule index > `last` among `key`'s indices, or MaxValue. */
  @inline protected final def nextIdx(key: String, last: Int): Int = {
    val idxs = prio.get(key)
    if (idxs == null) Int.MaxValue
    else {
      var i = 0
      while (i < idxs.length && idxs(i) <= last) i += 1
      if (i < idxs.length) idxs(i) else Int.MaxValue
    }
  }

  /** Scan `toks` for the lowest applicable rule index > `last`. */
  protected def bestRule(toks: Array[String], last: Int): Int

  /** One leftmost-non-overlapping pass of rule `idx` over `toks`. */
  protected def applyRule(toks: Array[String], idx: Int): Array[String]

  final def apply(text: String): String = {
    if (text == null) return null
    var toks = text.split(" ", -1)
    var last = -1
    var best = bestRule(toks, last)
    while (best != Int.MaxValue) {
      toks = applyRule(toks, best)
      last = best
      best = bestRule(toks, last)
    }
    // mirror the padded-replace form's trailing trim (boundary spaces
    // survive the split/join round-trip as empty tokens)
    toks.mkString(" ").trim
  }
}

/** Token-array BPE ENCODE kernel: merges adjacent (a, b) into "a_b"
  * with the space-padded `replace` semantics pinned by the t64/t65
  * oracles — leftmost non-overlapping, separator consumed, so an
  * immediate repeat ("a b a b") merges alternately within one pass. */
private[operators] final class BpeMerger(
    rules: Array[(String, String)])
  extends BpeKernel(rules.map { case (a, b) => a + " " + b }) {

  protected def bestRule(toks: Array[String], last: Int): Int = {
    var best = Int.MaxValue
    var i = 0
    while (i < toks.length - 1) {
      val p = nextIdx(toks(i) + " " + toks(i + 1), last)
      if (p < best) best = p
      i += 1
    }
    best
  }

  protected def applyRule(toks: Array[String], idx: Int): Array[String] = {
    val (a, b) = rules(idx)
    val merged = a + "_" + b
    val out = Array.newBuilder[String]
    out.sizeHint(toks.length)
    var i = 0
    var spaceOk = true // does the separator BEFORE toks(i) survive?
    while (i < toks.length) {
      if (spaceOk && i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += merged; i += 2; spaceOk = false
      } else { out += toks(i); i += 1; spaceOk = true }
    }
    out.result()
  }
}

/** Token-array BPE DECODE kernel: splits "a_b" back into (a, b),
  * un-applying the merge list in REVERSE priority order (rules are
  * re-indexed reversed at construction), with the same separator-
  * consumption contract — a merged token immediately following a just-
  * split one stays intact for this rule's pass, mirroring the padded
  * string `replace` the oracle replays. */
private[operators] final class BpeSplitter(
    rules: Array[(String, String)])
  extends BpeKernel(
    rules.reverseIterator.map { case (a, b) => a + "_" + b }.toArray) {

  // reversed to match the kernel's index space
  private val rev: Array[(String, String)] = rules.reverse

  protected def bestRule(toks: Array[String], last: Int): Int = {
    var best = Int.MaxValue
    var i = 0
    while (i < toks.length) {
      val p = nextIdx(toks(i), last)
      if (p < best) best = p
      i += 1
    }
    best
  }

  protected def applyRule(toks: Array[String], idx: Int): Array[String] = {
    val (a, b) = rev(idx)
    val merged = a + "_" + b
    val out = Array.newBuilder[String]
    out.sizeHint(toks.length + 4)
    var i = 0
    var spaceOk = true
    while (i < toks.length) {
      if (spaceOk && toks(i) == merged) {
        out += a; out += b; i += 1; spaceOk = false
      } else { out += toks(i); i += 1; spaceOk = true }
    }
    out.result()
  }
}
