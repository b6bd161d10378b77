package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Materialize, TextDedup}
import graft.pipeline.SinkTable

/** `curation`: one pass curates the bundled `documents`/`embeddings`
  * corpus in three stages, each in the seed's order:
  *  (a) dedup, similarity and multimodal operators,
  *      run by name from `graft.SparkEntry.queries`;
  *  (b) the MinHash band-index loop through a parquet `SinkTable`
  *      (append -> screen -> compact -> re-screen -> append -> screen):
  *      rewrite-heavy, where `chain_etl`'s sinks are append-only;
  *  (c) a streaming screen gate (file-source micro-batches deduplicated
  *      through a state store).
  * One op is one query, loop step or gate; the items are the corpus
  * documents, once per pass.
  *
  * A query op builds its frame (`sql.build_s`: the operator's own
  * eager jobs, or a whole streaming run) and executes it through the
  * `noop` sink (`sql.execute_s`), as `graft.Bench` does. Each query's and
  * the loop's warm-up result is written as parquet and compared against
  * the engine's DuckDB oracle SQL by the orchestrator; a mismatch fails
  * every op it covers. */
final class Curation extends Workload {
  import Curation._

  def itemName = "documents"
  /** A pass is short and its ops are tiny Spark jobs, so the median of
    * three passes keeps one slow pass from setting the figures. */
  override def minPasses = 3
  private var docsPerPass = 0L
  private var outputs = Seq.empty[(String, String, String)]
  override def checks: Seq[(String, String, String)] = outputs

  def warmUp(ctx: Ctx): Unit = {
    docsPerPass = graft.queries.Util.t(ctx.spark, ctx.data, "documents").count()
    val oracle = graft.SparkEntry.oracleSql
    def save(name: String)(df: => DataFrame): (String, String, String) = {
      val dir = ctx.freshDir(s"out/$name")
      val t0 = System.nanoTime()
      Materialize.scoped(df.write.mode("overwrite").parquet(dir))
      System.err.println(f"[perfbench] warm-up $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      (name, dir, oracle.getOrElse(name, null))
    }
    outputs = (stageA ++ stageC).map(q => save(q)(queries(q)(ctx.spark, ctx.data))) :+
      save(loopName)(bandIndexLoop(ctx, df => df))
  }

  def pass(ctx: Ctx, number: Int): (Long, Double) = {
    val sc = ctx.spark.sparkContext
    val rnd = new scala.util.Random(ctx.seed + number)
    val persistedBefore = sc.getPersistentRDDs.size
    val a = rnd.shuffle(stageA).map(runQuery(ctx, _, "operators")).sum
    val b = Trace.span(loopName, "operators") {
      var total = 0.0
      Materialize.scoped {
        val verdicts = bandIndexLoop(ctx, df => { val (r, s) = step(ctx, df); total += s; r })
        total += step(ctx, noop(verdicts))._2
      }
      total
    }
    val c = rnd.shuffle(stageC).map(runQuery(ctx, _, "streaming")).sum
    Trace.count("curation.leaked_rdds", (sc.getPersistentRDDs.size - persistedBefore).toDouble)
    (docsPerPass, a + b + c)
  }

  private lazy val queries = graft.SparkEntry.queries

  /** Persisted RDDs still held at the end of an op, before its
    * `Materialize.scoped` releases them. */
  private def peakPersisted(ctx: Ctx): Unit =
    Trace.peak("curation.persisted_rdds_peak", ctx.spark.sparkContext.getPersistentRDDs.size.toDouble)

  private def noop(df: DataFrame): DataFrame = {
    df.write.format("noop").mode("overwrite").save()
    df
  }

  /** Run `body` as one op in its own job group; returns its seconds. */
  private def timedOp[T](ctx: Ctx, name: String, check: String, layer: String)(
      body: => T): (Option[T], Double) = {
    val group = s"op-${Trace.newId()}"
    val sc = ctx.spark.sparkContext
    sc.setJobGroup(group, name)
    val t0 = System.nanoTime()
    val r = try Some(Trace.span(name, layer, group)(body)) catch {
      case e: Exception => System.err.println(s"[perfbench] $name failed: $e"); None
    } finally sc.clearJobGroup()
    val s = (System.nanoTime() - t0) / 1e9
    ctx.record(Op(name, s, r.isDefined, check))
    (r, s)
  }

  private def runQuery(ctx: Ctx, q: String, layer: String): Double = {
    val (_, s) = timedOp(ctx, q, q, layer) {
      Materialize.scoped {
        val t1 = System.nanoTime()
        val df = Trace.span("build", layer)(queries(q)(ctx.spark, ctx.data))
        val t2 = System.nanoTime()
        Trace.span("execute", "queries")(noop(df))
        peakPersisted(ctx)
        Trace.count("sql.build_s", (t2 - t1) / 1e9)
        Trace.count("sql.execute_s", (System.nanoTime() - t2) / 1e9)
      }
    }
    counters.get(q).foreach(Trace.count(_, s))
    s
  }

  private var stepNo = 0
  /** One materializing step of the loop, timed as an op. */
  private def step(ctx: Ctx, body: => DataFrame): (DataFrame, Double) = {
    stepNo += 1
    val (r, s) = timedOp(ctx, s"$loopName.$stepNo", loopName, "operators") {
      val df = body
      peakPersisted(ctx)
      df
    }
    (r.getOrElse(throw new IllegalStateException(s"$loopName step failed")), s)
  }

  private def timedSink[T](name: String, counter: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try Trace.span(name, "sink")(body)
    finally Trace.count(counter, (System.nanoTime() - t0) / 1e9)
  }

  /** The t73 loop as direct calls to the public operators and sink:
    * the corpus's band index is appended, five docs are re-indexed,
    * batch 1 of re-uploads is screened, the sink is compacted and batch
    * 1 screened again (the verdicts must not change), the kept probes
    * are appended and batch 2 is screened against them. `materialize`
    * runs each step that must finish before the next. */
  private def bandIndexLoop(ctx: Ctx, materialize: (=> DataFrame) => DataFrame): DataFrame = {
    val s = ctx.spark
    import s.implicits._
    val docs = graft.queries.Util.t(s, ctx.data, "documents")
    val sink = SinkTable(ctx.freshDir("band_index"), orderKeys = Seq("doc_id", "band"))
    stepNo = 0
    def append(df: DataFrame, seq: Long): Unit = materialize {
      timedSink("append", "sink.append_s")(sink.append(df, seq)); df
    }
    def screen(df: => DataFrame): DataFrame =
      materialize(Trace.span("screen", "operators")(Materialize.eager(df)))

    append(TextDedup.minHashBandIndex(docs, "doc_id", "text"), 0L)
    val updated = docs.filter($"doc_id" < 5).select($"doc_id", reverse($"text").as("text"))
    append(TextDedup.minHashBandIndex(updated, "doc_id", "text"), 1L)
    val b1 = docs.filter($"doc_id" < 5)
      .select(($"doc_id" + 1000000).as("doc_id"),
        concat($"text", lit(" ingestdup tail")).as("text"))
      .unionAll(docs.filter($"doc_id" < 5)
        .select(($"doc_id" + 1100000).as("doc_id"),
          concat(reverse($"text"), lit(" ingestdup tail")).as("text")))
    val v1 = screen(TextDedup.dedupAgainstIndex(b1, sink.read(s), "doc_id", "text"))
    materialize { timedSink("compact", "sink.compact_s")(sink.compact(s)); v1 }
    val v1post = materialize(timedSink("rescreen", "sink.rescreen_s")(Materialize.eager(
      TextDedup.dedupAgainstIndex(b1, sink.read(s), "doc_id", "text"))))
    val kept1 = b1.join(v1post.filter($"kept").select($"doc_id"), Seq("doc_id"), "left_semi")
    append(TextDedup.minHashBandIndex(kept1, "doc_id", "text"), 2L)
    val b2 = docs.filter($"doc_id" < 5)
      .select(($"doc_id" + 3000000).as("doc_id"),
        concat($"text", lit(" ingestdup tail moretail")).as("text"))
    val v2 = screen(TextDedup.dedupAgainstIndex(b2, sink.read(s), "doc_id", "text"))
    v1.select(lit(1L).as("batch"), $"doc_id", $"kept", $"dup_src")
      .unionAll(v1post.select(lit(11L).as("batch"), $"doc_id", $"kept", $"dup_src"))
      .unionAll(v2.select(lit(2L).as("batch"), $"doc_id", $"kept", $"dup_src"))
  }
}

object Curation {
  /** Stage (a) queries and the operator counter each one's time adds to. */
  val counters: Map[String, String] = Map(
    "t38_minhash_lsh_pairs" -> "curation.minhash_s",
    "t39_simhash_pairs" -> "curation.simhash_s",
    "t48_decontaminate" -> "curation.decontam_s",
    "s46_cosine_dup_lsh" -> "curation.cosine_lsh_s",
    "m80_audio_landmarks" -> "curation.audio_landmark_s")
  val stageA: Seq[String] = counters.keys.toSeq.sorted
  /** Named after the engine query whose oracle SQL checks its verdicts. */
  val loopName = "t73_index_sink_loop"
  val stageC: Seq[String] = Seq("st65_stream_dedup")
}
