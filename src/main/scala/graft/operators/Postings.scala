package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Posting-list mechanics shared by every pair scorer and index screen
  * of the dedup families ([[Multimodal]], [[TextDedup]], [[Similarity]],
  * [[StreamingNearDup]]): a posting list is the `collect_list` of the
  * docs sharing one key (a shingle, a landmark, a 16-bit hash chunk),
  * and candidate pairs are its ordered pairs. A kernel swap for pair
  * generation, the df cap or the verdict shape is a change here only.
  *
  * Input rows carry the document id as `doc_id` unless a function says
  * otherwise. */
private[operators] object Postings {

  /** Every ordered pair of a posting list as `struct(a, b)`, a before b
    * in `array_sort` order (so for a list of ids or of structs led by
    * `doc_id`, a's id <= b's id; equal entries pair too).
    *
    * The sorted list is bound ONCE as a lambda variable: higher-order
    * function bodies are interpreted, so a bare `array_sort` subtree
    * inside the pair lambda would re-sort the posting list for every
    * element, twice (the `wordShingles` trick). On Spark 4.1.2, 4
    * cores, both forms give identical pair multisets, and the
    * bind-once form is the faster (0.89 s vs 1.16 s on 2,000 buckets
    * of 64; 6.2 s vs 7.9 s on 2 buckets of 3,000). */
  def pairs(list: Column): Column =
    element_at(transform(array(array_sort(list)), { sds =>
      flatten(transform(sds, (x, i) =>
        transform(slice(sds, i + lit(2), greatest(size(sds) - i - 1, lit(0))),
          y => struct(x.as("a"), y.as("b")))))
    }), 1)

  /** Pre-aggregation hot-key cap: keeps the rows whose `keys` are held
    * by at most `maxDf` rows (`distinctDocs = false`) or distinct
    * `doc_id`s (`distinctDocs = true`, for tables with several rows
    * per doc and key, e.g. orientations or windows), via a left-semi
    * join against the per-key df. `maxDf <= 0` returns `rows` as is,
    * except [[Multimodal.AutoDf]], which throws: a cap is solved only
    * by the scorers that call [[resolveDfCap]] first, and every other
    * scorer passes through here, so `AutoDf` fails fast instead of
    * silently running uncapped. Capping before `collect_list` keeps a
    * hot key's giant posting list from ever materializing in one
    * aggregation row. */
  def capDf(rows: DataFrame, keys: Seq[String], maxDf: Int,
      distinctDocs: Boolean = false): DataFrame = {
    require(maxDf != Multimodal.AutoDf, "maxDf = AutoDf: this scorer " +
      "cannot solve a df cap; pass an explicit maxDf (0 = uncapped)")
    if (maxDf <= 0) rows
    else rows.join(
      rows.groupBy(keys.map(col): _*)
        .agg((if (distinctDocs) countDistinct(col("doc_id"))
          else count(lit(1))).as("df"))
        .filter(col("df") <= maxDf).select(keys.map(col): _*),
      keys, "left_semi")
  }

  /** `rows` with each row repeated per 16-bit chunk of its 64-bit
    * `hashCols`: added columns `chunk` (0..3 over the first hash, low
    * chunk first, then 4..7 over the second, ...) and `ckey` (the
    * chunk value). By pigeonhole, two hashes within hamming distance 3
    * (two hash pairs within a summed distance 7) share at least one
    * (chunk, ckey) bucket. */
  def chunks16(rows: DataFrame, hashCols: String*): DataFrame = {
    val cols = rows.columns.toSeq.map(col)
    rows.select(cols :+ posexplode(array(hashCols.flatMap(h => (0 until 4)
        .map(c => shiftright(col(h), c * 16).bitwiseAND(lit(0xffffL)))): _*)): _*)
      .select(cols :+ col("pos").as("chunk") :+ col("col").as("ckey"): _*)
  }

  /** Per-pair count of shared keys: `rows` (doc_id, keys...) capped by
    * [[capDf]], grouped into per-key posting lists of `doc_id`, expanded
    * by [[pairs]] and counted per (doc_a, doc_b) into column `as`. */
  def pairCounts(rows: DataFrame, keys: Seq[String], maxDf: Int,
      distinctDocs: Boolean = false, as: String = "c"): DataFrame =
    capDf(rows, keys, maxDf, distinctDocs).groupBy(keys.map(col): _*)
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(pairs(col("ds"))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as(as))

  /** Shared count `c` over the smaller side's size: joins the
    * (doc_id, n) `sizes` table onto both docs of `counts`
    * (doc_a, doc_b, keep..., c) and keeps pairs whose
    * `round(c / least(na, nb), 6)` reaches `minMatch`, as
    * (doc_a, doc_b, keep..., match_frac). */
  def overSmaller(counts: DataFrame, sizes: DataFrame, minMatch: Double,
      keep: String*): DataFrame = {
    val n = sizes.columns.last
    counts
      .join(sizes.select(col("doc_id").as("doc_a"), col(n).as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col(n).as("nb")), Seq("doc_b"))
      .select((Seq("doc_a", "doc_b") ++ keep).map(col) :+
        round(col("c").cast("double") / least(col("na"), col("nb")), 6)
          .as("match_frac"): _*)
      .filter(col("match_frac") >= minMatch)
  }

  /** An index family's fingerprint version and the builder that makes
    * its index, for [[requireStamp]]. */
  case class Stamp(ver: Int, family: String, builder: String)

  /** Fail-fast version gate of a persisted index: an index without the
    * `cols` (an unstamped one predates versioning) or holding an
    * `fp_ver` other than `stamp.ver` throws with a rebuild instruction
    * naming the builder, instead of compiling, running and matching
    * nothing. The probe is a `limit(1)` over a constant column, which
    * parquet min/max stats prune to a metadata read. */
  def requireStamp(index: DataFrame, stamp: Stamp,
      cols: Seq[String] = Seq("fp_ver")): Unit = {
    val Stamp(ver, family, builder) = stamp
    require(cols.forall(index.columns.contains),
      s"$family index has no ${cols.mkString("/")} column: it predates " +
        s"fingerprint version $ver — rebuild it with $builder before " +
        "screening")
    val stale = index.filter(col("fp_ver") =!= lit(ver)).limit(1).collect()
    require(stale.isEmpty,
      s"$family index built by fingerprint version " +
        s"${stale.headOption.map(_.getAs[Any]("fp_ver")).orNull}, " +
        s"current is $ver — rebuild it with $builder before screening " +
        "(cross-version fingerprints never match)")
  }

  /** One verdict row per probe: `probeIds` is a one-column table of
    * probe ids, `dup` maps a probe id (same column name) to `dup_src`;
    * a probe with no `dup` row is kept with a null `dup_src`. */
  def verdicts(probeIds: DataFrame, dup: DataFrame): DataFrame = {
    val id = probeIds.columns.head
    probeIds.join(dup, Seq(id), "left")
      .select(col(id), col("dup_src").isNull.as("kept"), col("dup_src"))
  }

  @transient private lazy val hotLog =
    org.slf4j.LoggerFactory.getLogger("graft.operators.Multimodal")

  /** Resolve a caller's maxDf: [[Multimodal.AutoDf]] solves the cap
    * from `lms`' df distribution ([[Multimodal.solveDfCap]]) and marks
    * it as solved, so its drops self-report like the backstop
    * auto-cap's; anything else passes through. */
  def resolveDfCap(lms: DataFrame, maxDf: Int,
      pairRowBytes: Int): (Int, Boolean) =
    if (maxDf == Multimodal.AutoDf) (Multimodal.solveDfCap(lms, pairRowBytes), true)
    else (maxDf, false)

  /** The distinct-doc posting cap as a keep-PREDICATE over a per-code
    * posting row whose distinct-doc count is already in hand (`dfCol`):
    * explicit maxDf when > 0, `autoCap` (with the
    * [[Multimodal.hotCodesDropped]] accumulator and a warn per dropped
    * code) otherwise; `report` forces the accumulator path for a cap
    * the operator SOLVED itself. Filtering where the posting list is
    * built saves [[capDf]]'s count aggregation and semi-join back, two
    * extra shuffles of the full table on the same key. */
  def dfCapKeep(s: SparkSession, lmCol: Column, dfCol: Column,
      maxDf: Int, report: Boolean = false,
      autoCap: Int = Multimodal.HotCodeAutoCap): Column = {
    val auto = maxDf <= 0 || report
    val cap = if (maxDf <= 0) autoCap else maxDf
    if (cap <= 0) lit(true)
    else if (!auto) dfCol <= cap
    else {
      val acc = Multimodal.hotCodesDropped(s)
      val keepUdf = udf((lm: String, df: Int) => {
        val ok = df <= cap
        if (!ok) {
          acc.add(1L)
          hotLog.warn(
            s"auto posting cap: dropping hot code $lm (df=$df > " +
              s"$cap distinct docs) — carries no identification " +
              "signal; raise maxDf explicitly to keep it")
        }
        ok
      })
      keepUdf(lmCol.cast("string"), dfCol.cast("int"))
    }
  }
}
