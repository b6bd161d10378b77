package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Config-driven pipeline: load `pipeline.yaml` + a directory of SQL
  * templates and run them WITHOUT recompiling — the reference's core UX
  * (`pipeline <url>`, cmd/pipeline/pipeline.go:43-159; template loading
  * internal/utils/utils.go:77-106). A user defines a new pipeline as
  * data: yaml for the runtime knobs, Spark-SQL-dialect templates for the
  * steps.
  *
  * Spark-dialect step contract (file names follow the reference corpus):
  *  - `start.sql`  — scalar SELECT over the `sink` view → resume offset
  *  - `tip.sql`    — scalar SELECT → highest processable offset
  *  - first Stage's files (e.g. `create_buffer.sql`) — each file is
  *    either `create temporary table/view NAME as (SELECT …)` (the
  *    reference's buffer idiom; NAME is registered as a temp view over
  *    the batch) or a bare SELECT; the last SELECT becomes the batch
  *    buffer
  *  - post-Sequencer files — `insert into sink SELECT …` is planned over
  *    the buffer views and staged as part of the batch's unordered
  *    transform, then published into the sink by rename in batch order
  *    (ordered commit); `drop temporary table/view NAME` drops the
  *    buffer view at commit, anything else runs via spark.sql at commit.
  *    The inserts are thus planned before the stage's other statements
  *    run, so only inserts and drops may come before an insert (checked
  *    when the definition is built)
  *
  * Sink identity comes from the yaml `Sink:` section
  * ({Path, Keys, VersionColumn}, values templated with vars) — the Spark
  * analog of the reference's `create_remote_table.sql` setup DDL, which
  * is ClickHouse-specific. Template vars come from explicit bindings plus
  * AGN_* environment variables, exactly like the reference CLI.
  */
object SqlPipeline {

  /** mode "replacing" (default): ReplacingMergeTree-style SinkTable.
    * mode "daily_parquet": partitioned parquet export (the reference's
    * *_to_daily_parquet_file family — `insert into s3(… date={_partition_id}
    * …) partition by toDate(timestamp)`); batch offsets are epoch days,
    * the buffer is staged partitioned by `partitionCol`, and commit
    * replaces each exported partition the batch holds. */
  final case class SinkSpec(path: String, keys: Seq[String], version: Option[String],
      mode: String = "replacing", partitionCol: String = "date") {
    def table: SinkTable = SinkTable(path, keys, version)
    def isExport: Boolean = mode == "daily_parquet"
  }

  private def yamlSection(yamlText: String, key: String): Map[String, String] = {
    val root = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Any]](yamlText)
    val doc = Option(root).map(_.asScala.toMap).getOrElse(Map.empty[String, Any])
    doc.get(key) match {
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.map { case (k, v) => k.toString -> String.valueOf(v) }.toMap
      case _ => Map.empty[String, String]
    }
  }

  /** Parse the engine-specific `Sink:` yaml section (vars-templated). */
  def sinkSpec(yamlText: String, vars: Map[String, String]): SinkSpec = {
    val sink = yamlSection(yamlText, "Sink")
    def fromVars(k: String) = vars.get(k)
    val path = sink.get("Path").map(Templates.render(_, vars))
      .orElse(fromVars("SINK_PATH"))
      .getOrElse(throw new IllegalArgumentException(
        "sink path missing: add a Sink.Path yaml entry or a SINK_PATH var"))
    val version = sink.get("VersionColumn").map(Templates.render(_, vars))
      .orElse(fromVars("SINK_VERSION"))
    val mode = sink.get("Mode").map(_.trim.toLowerCase.replace("-", "_"))
      .map { case "dailyparquet" => "daily_parquet"; case m => m }
      .getOrElse("replacing")
    val rawKeys = sink.get("Keys").map(Templates.render(_, vars)).orElse(fromVars("SINK_KEYS"))
    val keys =
      if (mode == "daily_parquet" && rawKeys.isEmpty) Nil
      else orderKeys("Sink", rawKeys)
    val partCol = sink.get("PartitionColumn").getOrElse("date")
    SinkSpec(path, keys, version, mode, partCol)
  }

  /** A replacing table's dedup keys (`Keys: a, b`), checked when the
    * definition is built: absent, or rendered empty from a missing
    * template var, the table's reads would dedup on a column it may not
    * have, or collapse rows that share a value of the wrong one. */
  private def orderKeys(section: String, raw: Option[String]): Seq[String] = {
    val keys = raw.toSeq.flatMap(_.split(",").map(_.trim))
    if (keys.isEmpty || keys.exists(_.isEmpty))
      throw new IllegalArgumentException(
        s"$section.Keys is ${raw.fold("missing")(k => s"'$k'")}: list the $section's order keys")
    keys
  }

  /** Optional `Source:` yaml section — an upstream sink exposed to every
    * step's SQL as the `source` view (the derived-pipeline family:
    * decoded logs/traces read a chain sink instead of RPC). */
  def sourceSpec(yamlText: String, vars: Map[String, String]): Option[SinkSpec] = {
    val src = yamlSection(yamlText, "Source")
    src.get("Path").map(Templates.render(_, vars)).map { path =>
      SinkSpec(path, orderKeys("Source", src.get("Keys").map(Templates.render(_, vars))),
        src.get("VersionColumn").map(Templates.render(_, vars)))
    }
  }

  private val createBufferRe =
    """(?is)^\s*create\s+(?:or\s+replace\s+)?temp(?:orary)?\s+(?:table|view)\s+(\S+)\s+as\s*(.*)$""".r
  private val insertSinkRe =
    """(?is)^\s*insert\s+into\s+sink\s+(.*)$""".r
  private val dropRe =
    """(?is)^\s*drop\s+temp(?:orary)?\s+(?:table|view)\s+(?:if\s+exists\s+)?(\S+)\s*$""".r

  /** Strip one optional level of wrapping parens: `( select … )`. */
  private def unwrap(sql: String): String = {
    val t = sql.trim
    if (t.startsWith("(") && t.endsWith(")")) t.drop(1).dropRight(1) else t
  }

  /** Drop leading `--` comment lines so statement classification sees
    * the first real token (comments elsewhere stay — Spark parses them). */
  private def stripLeading(sql: String): String =
    sql.linesIterator
      .dropWhile(l => l.trim.isEmpty || l.trim.startsWith("--"))
      .mkString("\n")

  private def scalarLong(spark: SparkSession, sql: String): Option[Long] = {
    val row = spark.sql(sql).head()
    if (row.isNullAt(0)) None else Some(row.get(0).asInstanceOf[Number].longValue)
  }

  private def isUrl(dir: String): Boolean =
    dir.startsWith("http://") || dir.startsWith("https://")

  /** Any non-http URI scheme (s3a://, gs://, hdfs://, file://, …) is
    * resolved through the Hadoop FileSystem API — the deploy shape the
    * reference gets from its OBJSTR_* object-store loader. */
  private def isFsUrl(dir: String): Boolean =
    !isUrl(dir) && dir.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*")

  private def fetch(url: String): String = {
    val in = java.net.URI.create(url).toURL.openStream()
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Read a file + every *.sql under the template base via Hadoop FS
    * (unlike http, object stores CAN list — same file set as the local
    * loader). Uses the active session's hadoopConfiguration when one
    * exists, so s3a credentials/endpoint config thread through
    * untouched. */
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def readFs(p: org.apache.hadoop.fs.Path): String = {
    val in = p.getFileSystem(hadoopConf).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** List + read every *.sql under a Hadoop-FS URL — shared by the
    * pipeline loader and RenderSql (which needs no pipeline.yaml). */
  private[pipeline] def listFsTemplates(tmplBase: String): Map[String, String] = {
    val tmplDir = new org.apache.hadoop.fs.Path(tmplBase.stripSuffix("/"))
    tmplDir.getFileSystem(hadoopConf).listStatus(tmplDir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".sql"))
      .map(s => s.getPath.getName -> readFs(s.getPath)).toMap
  }

  private def loadFs(base: String, yamlName: String, tmplBase: String)
      : (String, Map[String, String]) =
    (readFs(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(base.stripSuffix("/")), yamlName)),
      listFsTemplates(tmplBase))

  /** Load the pipeline yaml + templates from a local dir, an
    * object-store / Hadoop-FS URL (s3a://…, file://…), OR an http(s)
    * base URL — the reference loads configs from object storage
    * (cmd/main.go:25 OBJSTR context, cmd/pipeline/pipeline.go:63-69).
    *
    * Reference CLI shape (cmd/pipeline/pipeline.go:50-85): `path` may
    * be the yaml FILE itself — templates then come from its parent
    * directory, overridable with `templatePath` (the `--template-path`
    * flag). A directory path implies `pipeline.yaml` inside it.
    *
    * HTTP cannot list, so there the template set is the yaml's own
    * file references (stage files + Init.Setup) plus the standard
    * probes — exactly the files the runtime ever renders. */
  def loadPipeline(path: String, templatePath: Option[String] = None)
      : (String, Map[String, String]) = {
    val norm = path.stripSuffix("/")
    val (base, yamlName) =
      if (norm.endsWith(".yaml") || norm.endsWith(".yml")) {
        val slash = norm.lastIndexOf('/')
        (if (slash < 0) "." else norm.substring(0, slash), norm.substring(slash + 1))
      } else (norm, "pipeline.yaml")
    val tmplBase = templatePath.map(_.stripSuffix("/")).getOrElse(base)
    if (isFsUrl(base)) loadFs(base, yamlName, tmplBase)
    else if (isUrl(base)) {
      val yamlText = fetch(s"$base/$yamlName")
      val config = PipelineConfig.parse(yamlText)
      val names = (config.steps.collect { case s: PipelineConfig.Stage => s.files }
        .flatten ++ config.setupFiles ++ Seq("start.sql", "tip.sql")).distinct
      val templates = names.flatMap { n =>
        try Some(n -> fetch(s"$tmplBase/$n"))
        catch { case _: java.io.FileNotFoundException => None }
      }.toMap
      (yamlText, templates)
    } else {
      (java.nio.file.Files.readString(java.nio.file.Paths.get(base, yamlName)),
        Templates.loadDir(tmplBase))
    }
  }

  /** `examples/` of the working directory, else the nearest one above
    * this build's classes (or jar), so the bundled configs resolve
    * wherever the code runs from. */
  private[pipeline] lazy val examplesRoot: java.io.File = {
    val local = new java.io.File("examples")
    if (local.isDirectory) local
    else Iterator.iterate(new java.io.File(
        getClass.getProtectionDomain.getCodeSource.getLocation.toURI))(_.getParentFile)
      .takeWhile(_ != null).map(new java.io.File(_, "examples"))
      .find(_.isDirectory).getOrElse(local)
  }

  /** The bundled example pipeline directory `examples/<name>`. */
  def exampleDir(name: String): String = new java.io.File(examplesRoot, name).getPath

  /** Build a PipelineRunner.Definition from a pipeline directory (or
    * direct yaml path — see loadPipeline). */
  def definition(dir: String, vars: Map[String, String],
      templatePath: Option[String] = None): PipelineRunner.Definition =
    new ConfigDefinition(dir, vars, templatePath)

  /** One batch of the pipeline's transform stage with nothing staged:
    * the batch's buffer rows, for a caller that wants them without a
    * sink. Registers the stage's views (`source`, the buffer's) in
    * `spark`, which must have the graft functions registered. */
  def buffer(spark: SparkSession, dir: String, vars: Map[String, String],
      batch: PipelineRunner.Batch): DataFrame =
    new ConfigDefinition(dir, vars, None).buffer(spark, batch)

  /** A pipeline directory as a stage-then-publish Definition: `transform`
    * builds the batch's buffer and stages its sink writes, the ordered
    * `commit` only publishes what `transform` staged for that batch, and
    * `resume` first drops whatever a crashed run staged and never
    * published. */
  private final class ConfigDefinition(dir: String, vars: Map[String, String],
      templatePath: Option[String]) extends PipelineRunner.Definition {
    private val (yamlText, templates) = loadPipeline(dir, templatePath)
    private val spec = sinkSpec(yamlText, vars)
    private val sink = spec.table
    private val sourceTab = sourceSpec(yamlText, vars).map(_.table)

    private def rendered(name: String, batchVars: Map[String, String] = Map.empty): String =
      Templates.render(
        templates.getOrElse(name, throw new IllegalArgumentException(
          s"pipeline dir $dir is missing $name")),
        vars ++ batchVars)

    private val stages = PipelineConfig.parse(yamlText).steps
      .collect { case s: PipelineConfig.Stage => s }
    private val transformFiles = stages.headOption.map(_.files).getOrElse(Nil)
    private val commitStages = stages.drop(1)

    private def batchVars(b: PipelineRunner.Batch) = Map(
      "START" -> b.start.toString,
      "END" -> b.end.toString,
      "NUMBER" -> b.number.toString)

    private def commitStatements(b: PipelineRunner.Batch): Seq[String] =
      commitStages.flatMap(_.files).map(f => stripLeading(rendered(f, batchVars(b))))

    // Stage settings — the reference's ClickhouseSettings (stage.go:88-90)
    // — in ONE scope that the runner holds over the whole pass
    // (transformConf): the batch's sink write is staged inside the
    // transform, so the commit stage's settings must apply there too, and
    // a per-batch set/restore would strip them from a concurrent peer.
    // A key two stages set takes the later stage's value. A direct
    // transform or commit call outside the runner runs without them.
    private val stageConf = stages.map(_.sparkConf).foldLeft(Map.empty[String, String])(_ ++ _)

    override def transformConf: Map[String, String] = stageConf

    // Every commit-stage `insert into sink` is planned and staged in the
    // transform, before the stage's other statements run at publish; one
    // that an insert could rely on (a view, a `set`) must not precede it.
    if (!spec.isExport) {
      val commit = commitStatements(PipelineRunner.Batch(0, 0, 0))
      commit.take(commit.lastIndexWhere(insertSinkRe.matches)).find(sql =>
          !insertSinkRe.matches(sql) && !dropRe.matches(sql)).foreach { sql =>
        throw new IllegalArgumentException(
          s"pipeline $dir: commit-stage inserts are staged with the transform, before " +
          s"the stage's other statements run; move this after the last insert: $sql")
      }
    }

    /** ONE resolved file index per tip-probe (round 18, guide §6):
      * `spark.read.parquet` re-lists the source directory and re-reads
      * footers on every call, and this ran on every tip probe, resume,
      * AND per-batch transform — 30-80 ms each, a listing per batch at
      * scale (a per-definition timing split measured it dominating the
      * config pipelines' per-batch machinery).
      * The raw resolution is pinned here and refreshed only by `tip()`
      * — the freshness boundary: a follow-mode poll must see newly
      * landed source files, while transforms within a pass process the
      * snapshot their tip was probed against. Keyed by session: a
      * Definition can be driven from more than one session in tests. */
    private val pinnedRaw =
      new java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame]()

    /** For export mode, prune the source view to the `_part` (yyyyMM)
      * partitions covering the batch's epoch-day range — every 1-day
      * batch would otherwise scan the ENTIRE upstream sink. Pruning
      * derives from the pinned raw frame (`dedupOnRead`), so per-batch
      * views cost no extra listing. */
    private def registerSource(spark: SparkSession,
        batch: Option[PipelineRunner.Batch] = None,
        refresh: Boolean = false): Unit =
      sourceTab.foreach { s =>
        val raw =
          if (refresh) {
            val r = s.readRaw(spark); pinnedRaw.put(spark, r); r
          } else pinnedRaw.computeIfAbsent(spark, sp => s.readRaw(sp))
        val parts = batch.filter(_ => spec.isExport)
          .map(b => s.monthsOfDayRange(b.start, b.end))
        s.dedupOnRead(raw, parts).createOrReplaceTempView("source")
      }

    /** Export target as a probe-able `target` view (the reference's
      * s3-listing start.sql); empty stub when nothing is exported yet. */
    private def registerTarget(spark: SparkSession): Unit = {
      val fs = new org.apache.hadoop.fs.Path(spec.path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val df =
        if (fs.exists(new org.apache.hadoop.fs.Path(spec.path)))
          spark.read.parquet(spec.path)
        else spark.range(0).selectExpr(s"cast(null as date) as ${spec.partitionCol}")
      df.createOrReplaceTempView("target")
    }

    /** Batches staged by `transform` and not yet published. */
    private val pending = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Staging.Staged]]()

    def resume(spark: SparkSession): Option[Long] = {
      pending.clear()
      Staging.clear(spark, spec.path)
      if (spec.isExport) {
        registerSource(spark)
        registerTarget(spark)
      } else {
        if (!sink.exists(spark)) return None
        sink.read(spark).createOrReplaceTempView("sink")
      }
      scalarLong(spark, stripLeading(rendered("start.sql")))
    }

    def tip(spark: SparkSession): Long = {
      registerSource(spark, refresh = true)
      scalarLong(spark, stripLeading(rendered("tip.sql")))
        .getOrElse(throw new IllegalStateException("tip.sql returned null"))
    }

    /** Held while a batch registers the session-wide `source` and
      * buffer views and analyses the SQL that reads them. Analysis
      * inlines a view, so once `spark.sql` returns, the frame no longer
      * depends on it. Without the lock a concurrent peer could swap in
      * its own export-mode `source`, pruned to ITS months, in between:
      * a batch on the other side of a month boundary then reads an
      * empty buffer and its day silently goes missing. The staged
      * writes run outside the lock. */
    private val analysis = new Object

    /** Renders the transform stage; its last SELECT is the buffer. No
      * physical plan is pinned: the runner never executes the buffer
      * itself, only the staged write planned over it. */
    def buffer(spark: SparkSession, batch: PipelineRunner.Batch): DataFrame =
      analysis.synchronized {
        registerSource(spark, Some(batch))
        var buffer: Option[DataFrame] = None
        transformFiles.foreach { f =>
          stripLeading(rendered(f, batchVars(batch))) match {
            case createBufferRe(name, select) =>
              val df = spark.sql(unwrap(select))
              df.createOrReplaceTempView(name)
              buffer = Some(df)
            case sql =>
              buffer = Some(spark.sql(sql))
          }
        }
        buffer.getOrElse(throw new IllegalArgumentException(
          s"stage files $transformFiles produced no buffer SELECT"))
      }

    /** The batch's sink writes, staged: export mode's `partitionCol`
      * partitions (the `partition by toDate(timestamp)` s3 insert of the
      * reference's daily-export transform.sql), or each commit-stage
      * `insert into sink SELECT …`, planned over the buffer views, which
      * are (re-)registered over `df` first. */
    private def stage(spark: SparkSession, batch: PipelineRunner.Batch,
        df: DataFrame): Seq[Staging.Staged] =
      if (spec.isExport)
        Seq(Staging.stagePartitions(df, spec.path, spec.partitionCol, batch.number))
      else analysis.synchronized {
        transformFiles.foreach { f =>
          stripLeading(rendered(f, batchVars(batch))) match {
            case createBufferRe(name, _) => df.createOrReplaceTempView(name)
            case _ => ()
          }
        }
        commitStatements(batch).collect { case insertSinkRe(select) => spark.sql(unwrap(select)) }
      }.map(sink.stage(_, batch.number))

    def transform(spark: SparkSession, batch: PipelineRunner.Batch): DataFrame = {
      val df = buffer(spark, batch)
      pending.put(batch.number, stage(spark, batch, df))
      df
    }

    /** In batch order: each `insert into sink` publishes its staged
      * write, `drop temporary …` drops the buffer view, anything else
      * runs via spark.sql. */
    def commit(spark: SparkSession, batch: PipelineRunner.Batch, df: DataFrame): Unit = {
      val staged = Option(pending.remove(batch.number)).getOrElse(
        throw new IllegalStateException(s"batch ${batch.number} was not staged by transform"))
      if (spec.isExport) staged.foreach(Staging.publish)
      else {
        val writes = staged.iterator
        commitStatements(batch).foreach {
          case insertSinkRe(_) => sink.publish(writes.next())
          case dropRe(name) => spark.catalog.dropTempView(name); ()
          case sql => spark.sql(sql); ()
        }
      }
    }
  }

  /** Load + run a pipeline directory (or http(s) base URL) end-to-end
    * (setup files first).
    *
    * Runs in its OWN child session (`spark.newSession()`: shared
    * SparkContext + cache, isolated temp views and conf) so concurrent
    * pipelines can't collide on the `source`/`buffer_N_M` view names or
    * on scoped per-stage settings — the Spark analog of the reference
    * giving every pipeline its own ClickHouse connection context.
    *
    * The child does NOT get its own class loader: it runs on the
    * application's shared one (`Sessions.shareCode`, set before the
    * setup files run the session's first query), so the pipeline's
    * generated code compiles once per JVM rather than once per run, and
    * session-scoped artifacts are not isolated between pipelines. */
  def run(spark: SparkSession, dir: String, vars: Map[String, String],
      overrides: PipelineRunner.Config => PipelineRunner.Config = identity,
      templatePath: Option[String] = None)
      : PipelineRunner.Result = {
    val session = graft.Sessions.shareCode(spark.newSession())
    // function registrations are session-state; re-register in the child
    graft.functions.EvmFunctions.registerAll(session)
    graft.functions.HexExpressions.registerAll(session)
    val (yamlText, templates) = loadPipeline(dir, templatePath)
    val config = PipelineConfig.parse(yamlText).withEnvOverrides()
    config.sparkConf.foreach { case (k, v) => session.conf.set(k, v) }
    config.setupFiles.foreach { f =>
      templates.get(f).foreach(t => session.sql(Templates.render(t, vars)))
    }
    PipelineRunner.runWithRetry(session, definition(dir, vars, templatePath),
      overrides(config.toRunnerConfig))
  }
}

/** CLI parity with the reference's `pipeline <path>` command
  * (cmd/pipeline/pipeline.go:43-159): vars from --var K=V and AGN_* env;
  * runs to tip once by default, --follow to keep tracking. */
object PipelineMain {
  /** Cluster deploy knob (reference RemoteEngine,
    * internal/engine/impl/remote/remote_engine.go:10-45): SPARK_MASTER
    * threads through to the session builder verbatim — `spark://…`,
    * `yarn`, `k8s://…` — defaulting to local. Factored out so the
    * cluster-config smoke test covers the exact resolution the CLI uses. */
  private[pipeline] def resolveMaster(env: Map[String, String]): String =
    env.getOrElse("SPARK_MASTER", "local[*]")

  def main(args: Array[String]): Unit = {
    var dir: Option[String] = None
    var vars = Templates.envVars()
    var follow = false
    var forceStart: Option[Long] = None
    var stopAfter: Option[Long] = None
    var promPort = 9999 // reference default (cmd/pipeline/pipeline.go:104)
    var templatePath: Option[String] = None // --template-path flag parity
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--var" =>
          val Array(k, v) = args(i + 1).split("=", 2); vars += (k -> v); i += 2
        case "--follow" => follow = true; i += 1
        case "--force-start" => forceStart = Some(args(i + 1).toLong); i += 2
        case "--stop-after-batches" => stopAfter = Some(args(i + 1).toLong); i += 2
        case "--prom-port" => promPort = args(i + 1).toInt; i += 2
        case "--no-prom" => promPort = -1; i += 1
        case "--template-path" => templatePath = Some(args(i + 1)); i += 2
        case other => dir = Some(other); i += 1
      }
    }
    val d = dir.getOrElse {
      System.err.println(
        "usage: PipelineMain <dir|pipeline.yaml> [--var K=V]... [--follow] " +
          "[--force-start N] [--stop-after-batches N] [--template-path DIR]")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(resolveMaster(sys.env))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.EvmFunctions.registerAll(spark)
    graft.functions.HexExpressions.registerAll(spark)
    // scrape endpoint up-front, like the reference's :9999 server
    val prom =
      if (promPort < 0) None
      else try Some(PrometheusEndpoint.start(spark, promPort))
      catch { case e: java.io.IOException =>
        System.err.println(s"[pipeline] prometheus bind failed: ${e.getMessage}")
        None
      }
    val res = SqlPipeline.run(spark, d, vars,
      c => c.copy(followTip = follow, forceStart = forceStart,
        stopAfterBatches = stopAfter,
        // --follow is daemon semantics: keep polling through stalls
        maxIdlePolls = if (follow) Long.MaxValue else 1),
      templatePath)
    println(s"[pipeline] batches=${res.batches} items=${res.items} " +
      f"items/sec=${res.itemsPerSec}%.1f")
    prom.foreach(_.stop())
    spark.stop()
  }
}
