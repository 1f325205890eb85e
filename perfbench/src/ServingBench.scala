package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.Api
import graft.gold.{GoldRefresh, OverrideRefresh, Schemas}
import graft.ingest.{ArticlesIngest, SerpIngest}
import graft.views.{EntityAnomalies, EntityDailyMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Serving-chain benchmark harness: drives the public functions of the
  * `ingest`, `gold`, `views` and `api` layers over generated inputs and
  * writes one JSON record (plus a span log when tracing) for `run.py`.
  *
  * Workloads:
  *  - nightly_refresh: one cold cycle ingests a day's modal CSVs, rebuilds
  *    all 7 gold tables from bronze and reads the new day back (the point
  *    probes);
  *  - override_edits: an open-loop editor appends override rows, runs the
  *    incremental refresh and polls until the edit is visible; between its
  *    edits a closed-loop point reader runs on the same thread.
  *
  * Every request opens its gold tables with `spark.read.parquet`, as a
  * request handler would; nothing is cached across requests. Each workload
  * answers the generator's probe set and writes the answers for the
  * correctness gate.
  */
object ServingBench {

  // ---------------------------------------------------------------- tracing

  final case class Span(name: String, parent: String, startNs: Long, durNs: Long)

  /** Spans around each layer call, kept in memory and written at the end. */
  final class Tracer(val enabled: Boolean) {
    val spans = new ConcurrentLinkedQueue[Span]()
    def span[T](name: String, parent: String)(body: => T): T =
      if (!enabled) body
      else {
        val t0 = System.nanoTime()
        try body
        finally spans.add(Span(name, parent, t0, System.nanoTime() - t0))
      }
  }

  /** Scheduler counts per operation class (the `bench.class` job property). */
  final class Counts extends SparkListener {
    final class C {
      val jobs, tasks, waitNs, runMs, gcMs, shuffleBytes, spillBytes, failures =
        new AtomicLong()
    }
    val byClass = new java.util.concurrent.ConcurrentHashMap[String, C]()
    private val stageClass = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val stageSubmitted = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private def c(k: String): C = byClass.computeIfAbsent(k, _ => new C)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val k = Option(e.properties).flatMap(p => Option(p.getProperty("bench.class")))
        .getOrElse("other")
      c(k).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageClass.put(s, k))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val k = c(stageClass.getOrDefault(e.stageId, "other"))
      k.tasks.incrementAndGet()
      val sub = stageSubmitted.getOrDefault(e.stageId, e.taskInfo.launchTime)
      k.waitNs.addAndGet(math.max(0L, e.taskInfo.launchTime - sub) * 1000000L)
      if (e.reason != org.apache.spark.Success) k.failures.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        k.runMs.addAndGet(m.executorRunTime)
        k.gcMs.addAndGet(m.jvmGCTime)
        k.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        k.spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      }
    }
    def summary: Map[String, Map[String, Double]] = byClass.asScala.toMap.map { case (k, v) =>
      k -> Map("jobs" -> v.jobs.get.toDouble, "tasks" -> v.tasks.get.toDouble,
        "wait_ms" -> v.waitNs.get / 1e6, "run_ms" -> v.runMs.get.toDouble,
        "gc_ms" -> v.gcMs.get.toDouble, "shuffle_bytes" -> v.shuffleBytes.get.toDouble,
        "spill_bytes" -> v.spillBytes.get.toDouble, "failures" -> v.failures.get.toDouble)
    }
  }

  // ------------------------------------------------------------- arguments

  final case class Conf(workload: String, data: String, work: String, seconds: Double,
      trace: Boolean, out: String, probes: String) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
  }

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("data"), m("work"), m("seconds").toDouble, m("trace") == "1",
      m("out"), m("probes"))
  }

  private def json(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])(DefaultFormats)

  // ------------------------------------------------------------ the system

  private val bronzeTables: Seq[(String, StructType)] = Seq(
    "companies" -> Schemas.companies, "ceos" -> Schemas.ceos,
    "articles" -> Schemas.articles,
    "company_article_mentions" -> Schemas.companyArticleMentions,
    "ceo_article_mentions" -> Schemas.ceoArticleMentions,
    "company_article_mentions_daily" -> Schemas.companyArticleMentionsDaily,
    "ceo_article_mentions_daily" -> Schemas.ceoArticleMentionsDaily,
    "company_article_overrides" -> Schemas.companyArticleOverrides,
    "ceo_article_overrides" -> Schemas.ceoArticleOverrides,
    "serp_runs" -> Schemas.serpRuns, "serp_results" -> Schemas.serpResults,
    "serp_result_overrides" -> Schemas.serpResultOverrides,
    "serp_feature_items" -> Schemas.serpFeatureItems,
    "serp_feature_item_overrides" -> Schemas.serpFeatureItemOverrides,
    "serp_feature_url_overrides" -> Schemas.serpFeatureUrlOverrides)
  private val schemaOf = bronzeTables.toMap

  /** The run's private state: its gold directory, the rows its ingest
    * appended, and the tables it replaced (its copies of the override
    * tables, the merged articles table). */
  final class Env(val spark: SparkSession, val conf: Conf, val dir: String, val tracer: Tracer) {
    val gold = s"$dir/gold"
    val delta = s"$dir/delta"
    val own = s"$dir/own"
    val asOf: Date = Date.valueOf(Plans.asOf(conf.data))

    /** A bronze table: the run's own copy if it has one, else the base
      * history plus the rows the run's ingest appended. */
    def table(name: String): DataFrame = {
      val paths = if (new File(s"$own/$name").exists()) Seq(s"$own/$name")
      else Seq(s"${conf.data}/bronze/$name.parquet") ++
        Some(s"$delta/$name").filter(p => new File(p).exists())
      spark.read.schema(schemaOf(name)).parquet(paths: _*)
    }

    def bronze(): GoldRefresh.BronzeInputs = GoldRefresh.BronzeInputs(
      table("companies"), table("ceos"), table("articles"),
      table("company_article_mentions"), table("ceo_article_mentions"),
      table("company_article_mentions_daily"), table("ceo_article_mentions_daily"),
      table("company_article_overrides"), table("ceo_article_overrides"),
      table("serp_runs"), table("serp_results"), table("serp_result_overrides"),
      table("serp_feature_items"), table("serp_feature_item_overrides"),
      table("serp_feature_url_overrides"))

    def readGold(name: String, parent: String): DataFrame =
      tracer.span("gold.read_open", parent)(spark.read.parquet(s"$gold/$name"))
  }

  // ------------------------------------------------------------- ingest

  final case class IngestStats(articlesS: Double, serpS: Double, rowsIn: Long, rowsKept: Long)

  /** Ingest one day's modal CSVs into the run's bronze: mention rows are
    * appended, the articles batch is merged into the articles table.
    *
    * Glue the program does not provide: `ArticlesIngest`'s mention builders
    * are brand-flavoured, so CEO rows pass through them with `ceo_id` in the
    * `company_id` slot (after resolving the CEO name against `ceos`); and
    * each frame is projected onto its `gold.Schemas` bronze schema (the
    * builders' `llm_label` is the schema's `llm_risk_label`; columns the
    * builders do not produce are null). */
  def ingestDay(env: Env, day: Int, parent: String): IngestStats = {
    val spark = env.spark
    val dir = f"${env.conf.data}/modal/day_$day%03d"
    val date = Date.valueOf(java.time.LocalDate.of(2025, 1, 1).plusDays(day.toLong))
    val seenAt = lit(Timestamp.valueOf(s"$date 07:00:00"))
    val runAt = lit(Timestamp.valueOf(s"$date 12:00:00"))
    val companies = env.table("companies")
    val ceos = env.table("ceos")
    def project(df: DataFrame, name: String): DataFrame =
      df.select(schemaOf(name).fields.map(f =>
        (if (df.columns.contains(f.name)) col(f.name) else lit(null))
          .cast(f.dataType).as(f.name)).toSeq: _*)
    def append(df: DataFrame, name: String): Unit =
      project(df, name).write.mode("append").parquet(s"${env.delta}/$name")

    val t0 = System.nanoTime()
    env.tracer.span("ingest.articles", parent) {
      val brand = ArticlesIngest.normalize(
        ArticlesIngest.readModalCsv(spark, s"$dir/brand_articles.csv"), "company", companies)
      val ceo = ArticlesIngest.normalize(
        ArticlesIngest.readModalCsv(spark, s"$dir/ceo_articles.csv"), "ceo", companies)
        .join(broadcast(ceos.select(col("id").as("ceo_id"), col("name").as("ceo_name"),
          col("company_id").as("ceo_company_id"))), Seq("ceo_name"))
        .filter(col("company_id") === col("ceo_company_id"))
      val ceoAsCompany = ceo.drop("company_id").withColumnRenamed("ceo_id", "company_id")
      def mentions(n: DataFrame): DataFrame =
        ArticlesIngest.companyMentions(n, seenAt).withColumnRenamed("llm_label", "llm_risk_label")
      append(ArticlesIngest.companyMentionsDaily(brand, lit(date)),
        "company_article_mentions_daily")
      append(mentions(brand), "company_article_mentions")
      append(ArticlesIngest.companyMentionsDaily(ceoAsCompany, lit(date))
        .withColumnRenamed("company_id", "ceo_id"), "ceo_article_mentions_daily")
      append(mentions(ceoAsCompany).withColumnRenamed("company_id", "ceo_id"),
        "ceo_article_mentions")
      val batchCols = Seq("canonical_url", "__order", "title", "publisher", "published_at")
        .map(col)
      val batch = ArticlesIngest.articlesBatch(brand.filter(col("company_id").isNotNull)
        .select(batchCols: _*).union(ceo.select(batchCols: _*)), seenAt)
      val merged = ArticlesIngest.mergeArticles(env.table("articles"), project(batch, "articles"))
      project(merged, "articles").write.parquet(s"${env.own}/articles")
    }
    val t1 = System.nanoTime()
    env.tracer.span("ingest.serp", parent) {
      for (flavour <- Seq("brand", "ceo")) {
        val n = SerpIngest.normalize(
          SerpIngest.readModalCsv(spark, s"$dir/${flavour}_serps.csv"), flavour,
          companies, ceos, runAt)
        append(SerpIngest.serpRuns(n), "serp_runs")
        append(SerpIngest.serpResults(n).withColumn("llm_risk_label", lit(null: String))
          .withColumn("llm_control_class", lit(null: String)), "serp_results")
      }
    }
    val t2 = System.nanoTime()
    val (rowsIn, rowsKept) =
      if (!env.tracer.enabled) (0L, 0L)
      else {
        val in = Seq("brand_articles", "ceo_articles", "brand_serps", "ceo_serps")
          .map(f => spark.read.option("header", "true").csv(s"$dir/$f.csv").count()).sum
        val kept = Seq("company_article_mentions_daily", "ceo_article_mentions_daily")
          .map(t => spark.read.parquet(s"${env.delta}/$t").filter(col("date") === lit(date))
            .count()).sum +
          spark.read.parquet(s"${env.delta}/serp_results")
            .filter(col("published_date") === lit(date)).count()
        (in, kept)
      }
    IngestStats((t1 - t0) / 1e9, (t2 - t1) / 1e9, rowsIn, rowsKept)
  }

  // -------------------------------------------------------------- reads

  /** One endpoint request. `asOf` defaults to the last history day. */
  final case class Req(ep: String, kind: String, id: String, cid: String, name: String,
      days: Int, date: String, features: Seq[String], metric: String, asOf: String = "") {
    def key: String = s"$ep|$kind|$id|$days|$date|${features.mkString(",")}|$metric|$asOf"
    def insight: Boolean = Set("trendSummary", "anomalies", "screen")(ep)
  }

  private def jstr(o: Map[String, Any], k: String): String =
    o.get(k).map(_.toString).getOrElse("")

  /** The insight views, composed per request from gold and bronze. */
  def entityDailyMetrics(env: Env, in: GoldRefresh.BronzeInputs, parent: String): DataFrame = {
    val adc = env.readGold("article_daily_counts", parent)
    val sdc = env.readGold("serp_daily_counts", parent)
    val sfd = env.readGold("serp_feature_daily", parent)
    val sfcd = env.readGold("serp_feature_control_daily", parent)
    env.tracer.span("views.plan", parent) {
      EntityDailyMetrics.build(adc, sdc,
        EntityDailyMetrics.articleCrisis(in.companyMentionsDaily, in.ceoMentionsDaily,
          in.companyMentions, in.ceoMentions, in.ceos),
        EntityDailyMetrics.topStoriesSentiment(sfd, in.companies, in.ceos),
        EntityDailyMetrics.topStoriesControl(sfcd))
    }
  }

  /** Build one request's answer DataFrame. */
  def requestFrame(env: Env, in: GoldRefresh.BronzeInputs, r: Req, parent: String): DataFrame = {
    val asOfDate = if (r.asOf.isEmpty) env.asOf else Date.valueOf(r.asOf)
    val asOf = lit(asOfDate)
    val scope = Some(Seq(r.cid)).filter(_ => r.cid.nonEmpty)
    r.ep match {
      case "dailyCounts" =>
        Api.dailyCounts(env.readGold("article_daily_counts", parent), r.kind, r.days,
          scope, asOf)
      case "serpFeatureSeries" =>
        Api.serpFeatureSeries(env.readGold("serp_feature_daily", parent), r.kind, r.name,
          r.features, r.days, asOf)
      case "negativeSummary" =>
        Api.negativeSummary(env.readGold("negative_summary", parent),
          lit(Date.valueOf(r.date)), scope)
      case "trendSummary" =>
        Api.trendSummary(entityDailyMetrics(env, in, parent), r.kind, r.id)
      case "anomalies" =>
        val anomalies = env.tracer.span("views.plan", parent)(
          EntityAnomalies.build(entityDailyMetrics(env, in, parent)))
        Api.anomalies(anomalies, r.kind, r.id, r.days, 12, asOf)
          .select(col("date"), col("entity_id"),
            col("severity_score").cast("decimal(38,6)").as("severity_score"))
      case "screen" =>
        val start = lit(Date.valueOf(asOfDate.toLocalDate.minusDays(r.days - 1L)))
        Api.screen(entityDailyMetrics(env, in, parent), in.companies, r.metric, r.kind,
          start, asOf)
    }
  }

  /** Run one request: plan, then execute; returns the answer's schema and
    * collected rows. An error is the caller's to count. */
  def request(env: Env, in: GoldRefresh.BronzeInputs, r: Req,
      parent: String): (StructType, Array[Row]) = {
    val sc = env.spark.sparkContext
    sc.setLocalProperty("bench.class", if (r.insight) "insight" else "point")
    try {
      val df = env.tracer.span(s"api.${r.ep}_plan", parent) {
        val d = requestFrame(env, in, r, parent)
        d.queryExecution.executedPlan
        d
      }
      (df.schema, env.tracer.span(s"api.${r.ep}_exec", parent)(df.collect()))
    } finally sc.setLocalProperty("bench.class", null)
  }

  // ----------------------------------------------------------- workloads

  private def dirStats(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }
  }

  private def toReq(o: Map[String, Any]): Req = Req(jstr(o, "ep"), jstr(o, "kind"),
    jstr(o, "id"), jstr(o, "cid"), jstr(o, "name"),
    o.get("days").map(_.toString.toDouble.toInt).getOrElse(0), jstr(o, "date"),
    o.get("features").map(_.asInstanceOf[Seq[Any]].map(_.toString)).getOrElse(Nil),
    jstr(o, "metric"), jstr(o, "as_of"))

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Editor schedule: one edit due every EditIntervalS, below the editor's
    * capacity so that the open loop does not build a backlog. */
  val EditIntervalS: Double = 4.5
  val PollTimeoutS: Double = 30.0

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    // process start on the nanoTime clock: setup_s runs from here
    val processStart = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val tracer = new Tracer(conf.trace)
    val counts = if (conf.trace) Some(new Counts) else None
    // the record handed to run.py
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> conf.workload, "cores" -> conf.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    val nightly = conf.workload == "nightly_refresh"
    if (!nightly && conf.workload != "override_edits")
      throw new IllegalArgumentException(s"unknown workload ${conf.workload}")

    var failed, attempted = 0L
    val errors = mutable.ArrayBuffer[String]()
    def fail(what: String, e: Throwable): Unit = {
      failed += 1
      if (errors.size < 20) errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    def attempt(): Unit = attempted += 1

    // -------------------------------------------------------------- setup
    val spark = tracer.span("Sessions.start", "setup")(newSession(conf, counts))
    rec("session_start_s") = (System.nanoTime() - processStart) / 1e9
    val env = new Env(spark, conf, conf.work, tracer)
    new File(env.dir).mkdirs()
    var readsFailed = 0L
    /** One read counted as an operation: its rows, or None if it threw. */
    def read(in: GoldRefresh.BronzeInputs, r: Req, id: String): Option[Array[Row]] = {
      attempt()
      try Some(request(env, in, r, id)._2)
      catch { case e: Exception => readsFailed += 1; fail(id, e); None }
    }
    val reads = mutable.ArrayBuffer[(String, Double)]()
    val plan = if (nightly) Map.empty[String, Any] else Plans.load(s"${conf.data}/serving.json")
    val edits = plan.get("edits").map(_.asInstanceOf[Seq[Map[String, Any]]]).getOrElse(Nil)
    val reader = plan.get("reader").map(_.asInstanceOf[Seq[Any]]
      .map(o => toReq(o.asInstanceOf[Map[String, Any]]))).getOrElse(Nil)
    var in: GoldRefresh.BronzeInputs = null
    if (nightly) in = env.bronze()
    else {
      for (t <- bronzeTables.map(_._1) if t.endsWith("overrides"))
        Files.copy(Paths.get(s"${conf.data}/bronze/$t.parquet"),
          Files.createDirectories(Paths.get(s"${env.own}/$t")).resolve("part-0.parquet"))
      in = env.bronze()
      val g0 = System.nanoTime()
      val tables = tracer.span("gold.refresh", "setup")(
        GoldRefresh.refreshToParquet(in, env.gold))
      rec("setup_gold_s") = (System.nanoTime() - g0) / 1e9
      rec("setup_gold_table_s") = tables.toMap
      // untimed warm-up: each endpoint the workload calls (the point ones
      // three times over, from the reader's cycle of them), each refresh type
      val warm = reader.take(9) :+
        Req("trendSummary", "brand", "co-00000", "co-00000", "", 0, "", Nil, "")
      warm.foreach(r => request(env, in, r, "setup"))
      OverrideRefresh.Dependencies.keys.toSeq.sorted.foreach(m =>
        OverrideRefresh.refreshAfterOverride(in, env.gold, m, Seq(env.asOf)))
    }
    rec("setup_s") = (System.nanoTime() - processStart) / 1e9

    // the probe set, answered for the gate: nightly_refresh's point probes
    // are its cycle's read-backs, every other probe follows the window
    val probes = Plans.list(s"${conf.data}/probes.json").map(toReq)
      .filter(r => conf.probes == "all" || !r.insight)
    val inCycle =
      if (nightly) probes.indices.filterNot(probes(_).insight).toSet else Set.empty[Int]
    val answers = mutable.Map[Int, (StructType, Array[Row])]()

    // ------------------------------------------------------------ measure
    val measureStart = System.nanoTime()
    val deadline = measureStart + (conf.seconds * 1e9).toLong

    if (nightly) {
      // one cycle, started cold as a nightly job is
      val day = new File(s"${conf.data}/modal").list().map(_.stripPrefix("day_").toInt).min
      val id = s"cycle$day"
      val newDay = java.time.LocalDate.of(2025, 1, 1).plusDays(day.toLong).toString
      attempt()
      try {
        val c0 = System.nanoTime()
        spark.sparkContext.setLocalProperty("bench.class", "cycle")
        val st = try ingestDay(env, day, id)
          finally spark.sparkContext.setLocalProperty("bench.class", null)
        val r0 = System.nanoTime()
        spark.sparkContext.setLocalProperty("bench.class", "cycle")
        val times = try tracer.span("gold.refresh", id)(
          GoldRefresh.refreshToParquet(env.bronze(), env.gold))
          finally spark.sparkContext.setLocalProperty("bench.class", null)
        rec("refresh_ms") = ms(r0)
        // the new day is served: the point probes, answered as of the new
        // day, are the cycle's read-backs; the first, a dailyCounts, must
        // show it
        for (j <- inCycle.toSeq.sorted) {
          val r = probes(j)
          attempt()
          val t0 = System.nanoTime()
          val answer = request(env, in, r, s"probe$j")
          reads += ((r.ep, ms(t0)))
          answers(j) = answer
          if (j == 0) {
            if (!answer._2.exists(x => x.getAs[Date]("date").toString == newDay))
              throw new IllegalStateException(s"$newDay not served by ${r.ep}")
            rec("freshness_ms") = ms(c0)
          }
        }
        rec ++= Seq("cycle_s" -> ms(c0) / 1e3, "ingest_articles_s" -> st.articlesS,
          "ingest_serp_s" -> st.serpS, "ingest_rows_in" -> st.rowsIn,
          "ingest_rows_kept" -> st.rowsKept, "gold_table_s" -> times.toMap)
      } catch { case e: Exception => fail(id, e) }
    } else {
      // One thread: the open-loop editor applies each edit when it is due,
      // and the closed-loop reader issues point reads in between. A read
      // never overlaps `refreshAfterOverride`: its dynamic partition
      // overwrite deletes files that a concurrent read may already have
      // listed, and that read then fails with FAILED_READ_FILE.FILE_NOT_EXIST.
      def dueAt(i: Int): Long = measureStart + (i * EditIntervalS * 1e9).toLong
      var k = 0
      var lastReadNs = 0L
      /** Point reads until `until`; a read starts only if one as long as the
        * last one ends by then, so that the editor starts on time. */
      def readUntil(until: Long): Unit =
        while (k < reader.size && System.nanoTime() + lastReadNs < until) {
          val r = reader(k)
          val id = s"read$k"
          val t0 = System.nanoTime()
          read(in, r, id).foreach { rows =>
            reads += ((r.ep, ms(t0)))
            try checkShape(r, rows) catch { case e: Exception => fail(id, e) }
          }
          lastReadNs = System.nanoTime() - t0
          k += 1
        }
      val editLog = mutable.ArrayBuffer[Map[String, Any]]()
      var i = 0
      while (i < edits.size && dueAt(i) < deadline) {
        val e = edits(i)
        val due = dueAt(i)
        readUntil(due)
        while (System.nanoTime() < due) Thread.sleep(1)
        val late = ms(due)
        val id = s"edit$i"
        attempt()
        try {
          val (refreshMs, files, polls, freshMs) = applyEdit(env, e, due, id, read)
          editLog += Map("i" -> i, "type" -> jstr(e, "type"), "late_ms" -> late,
            "refresh_ms" -> refreshMs, "files" -> files, "polls" -> polls,
            "freshness_ms" -> freshMs)
        } catch { case ex: Exception => fail(id, ex) }
        i += 1
      }
      readUntil(deadline)
      rec ++= Seq("edits_applied" -> i, "edits" -> editLog)
    }
    val (files, bytes) = dirStats(env.gold)
    rec ++= Seq("measured_s" -> (System.nanoTime() - measureStart) / 1e9,
      "reads" -> reads.map { case (ep, t) => Seq(ep, t) }.toSeq,
      "reads_failed" -> readsFailed, "gold_files" -> files, "gold_bytes" -> bytes)

    // outside the measured window: the rest of the probe set, then each
    // answer written for the gate (a probe that throws writes none)
    for (i <- probes.indices if !inCycle(i)) {
      attempt()
      try answers(i) = request(env, in, probes(i), s"probe$i")
      catch { case e: Exception => fail(s"probe$i", e) }
    }
    for ((i, (schema, rows)) <- answers)
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(s"${conf.work}/answers/$i")
    rec("probes") = probes.size

    if (conf.trace && !nightly) {
      // outside the measured window: each insight endpoint and each view alone
      val insight = Plans.load(s"${conf.data}/serving.json")("insight")
        .asInstanceOf[Seq[Any]].map(o => toReq(o.asInstanceOf[Map[String, Any]]))
      for (ep <- Seq("trendSummary", "anomalies", "screen");
           r <- insight.filter(_.ep == ep).take(3))
        request(env, in, r, s"insight-$ep")
      def noop(df: DataFrame): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val edm = entityDailyMetrics(env, in, "views")
      rec("views_entity_daily_metrics_s") = Seq.fill(3)(noop(edm)).sorted.apply(1)
      rec("views_entity_anomalies_s") =
        Seq.fill(3)(noop(EntityAnomalies.build(edm))).sorted.apply(1)
    }
    if (conf.trace) {
      counts.foreach(c => rec("listener") = c.summary)
      val pw = new PrintWriter(s"${conf.out}.spans.jsonl", "UTF-8")
      try tracer.spans.asScala.foreach(s => pw.println(json(Map("name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs, "dur_ns" -> s.durNs))))
      finally pw.close()
    }
    System.gc()
    val rt = Runtime.getRuntime
    rec ++= Seq("attempted" -> attempted, "failed" -> failed, "errors" -> errors,
      "spark_version" -> spark.version,
      "live_heap_mb" -> (rt.totalMemory - rt.freeMemory) / 1048576.0)
    spark.stop()
    rec("peak_rss_mb") = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    val pw = new PrintWriter(conf.out, "UTF-8")
    try pw.println(json(rec)) finally pw.close()
  }

  private def newSession(conf: Conf, counts: Option[Counts]): SparkSession = {
    val spark = graft.Sessions.local(conf.cores.toString)
    counts.foreach(spark.sparkContext.addSparkListener)
    spark
  }

  /** Point-read answers the reader can check while edits move the gold
    * layer: label counts never exceed their totals. */
  private def checkShape(r: Req, rows: Array[Row]): Unit = r.ep match {
    case "dailyCounts" =>
      require(rows.nonEmpty, s"empty answer for ${r.key}")
      rows.foreach { x =>
        require(x.getAs[Long]("positive") + x.getAs[Long]("neutral") +
          x.getAs[Long]("negative") <= x.getAs[Long]("total"),
          s"label counts exceed total for ${r.key}")
      }
    case "serpFeatureSeries" =>
      require(rows.nonEmpty, s"empty answer for ${r.key}")
      rows.foreach { x =>
        require(x.getAs[Long]("positive_count") + x.getAs[Long]("neutral_count") +
          x.getAs[Long]("negative_count") <= x.getAs[Long]("total_count"),
          s"label counts exceed total for ${r.key}")
      }
    case _ =>
  }

  /** Append one override row, refresh the touched date, then poll the
    * endpoint serving that table (each poll a read for `read`) until the
    * expected value shows.
    * Returns (refresh ms, files in the touched partitions, polls,
    * freshness ms from the due time). */
  private def applyEdit(env: Env, e: Map[String, Any], dueNs: Long, id: String,
      read: (GoldRefresh.BronzeInputs, Req, String) => Option[Array[Row]])
      : (Double, Long, Int, Double) = {
    val spark = env.spark
    val tpe = jstr(e, "type")
    val date = Date.valueOf(jstr(e, "date"))
    val label = jstr(e, "label")
    val at = new Timestamp(System.currentTimeMillis())
    val (table, row) = jstr(e, "mention_type") match {
      case "company_article" => "company_article_overrides" ->
        Row(jstr(e, "entity_id"), jstr(e, "article_id"), label, true, null, "bench", "editor", at)
      case "ceo_article" => "ceo_article_overrides" ->
        Row(jstr(e, "entity_id"), jstr(e, "article_id"), label, true, null, "bench", "editor", at)
      case "serp_feature_item" => "serp_feature_item_overrides" ->
        Row(jstr(e, "item_id"), label, null, "bench", "editor", at)
      case "serp_result" => "serp_result_overrides" ->
        Row(jstr(e, "result_id"), label, null, "bench", "editor", at)
    }
    spark.sparkContext.setLocalProperty("bench.class", "edit")
    val (refreshMs, times) = try {
      env.tracer.span("override.append", id) {
        spark.createDataFrame(java.util.List.of(row), schemaOf(table))
          .write.mode("append").parquet(s"${env.own}/$table")
      }
      val r0 = System.nanoTime()
      val t = env.tracer.span(s"override.$tpe", id)(
        OverrideRefresh.refreshAfterOverride(env.bronze(), env.gold,
          jstr(e, "mention_type"), Seq(date)))
      (ms(r0), t)
    } finally spark.sparkContext.setLocalProperty("bench.class", null)
    val files = times.map { case (n, _) => dirStats(s"${env.gold}/$n/date=$date")._1 }.sum

    val expect = e("expect").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.toString.toDouble.toLong }
    val req = tpe match {
      case "article" => Req("dailyCounts", jstr(e, "kind"), jstr(e, "entity_id"),
        jstr(e, "cid"), "", 30, "", Nil, "")
      case "serp_feature_item" => Req("serpFeatureSeries", jstr(e, "kind"),
        jstr(e, "entity_id"), "", jstr(e, "name"), 30, "", Seq(jstr(e, "feature")), "")
      case _ => Req("trendSummary", jstr(e, "kind"), jstr(e, "entity_id"), jstr(e, "cid"),
        "", 0, "", Nil, "")
    }
    def visible(rows: Array[Row]): Boolean = tpe match {
      case "article" => rows.exists(r => r.getAs[Date]("date") == date &&
        r.getAs[String]("entity_id") == jstr(e, "entity_id") &&
        r.getAs[Long]("positive") == expect("positive") &&
        r.getAs[Long]("neutral") == expect("neutral") &&
        r.getAs[Long]("negative") == expect("negative"))
      case "serp_feature_item" => rows.exists(r => r.getAs[Date]("date") == date &&
        r.getAs[Long]("positive_count") == expect("positive") &&
        r.getAs[Long]("neutral_count") == expect("neutral") &&
        r.getAs[Long]("negative_count") == expect("negative"))
      case _ => rows.exists(r =>
        r.getAs[Long]("serp_negative_count_7d") == expect("serp_negative_count_7d"))
    }
    var polls = 0
    val giveUp = System.nanoTime() + (PollTimeoutS * 1e9).toLong
    var seen = false
    while (!seen) {
      polls += 1
      // a poll that throws counts as a failed read; polling goes on
      seen = env.tracer.span("override.poll", id)(
        read(env.bronze(), req, s"$id.poll$polls").exists(visible))
      if (!seen && System.nanoTime() > giveUp)
        throw new IllegalStateException(s"$tpe edit not visible after $polls polls")
    }
    (refreshMs, files, polls, ms(dueNs))
  }
}

/** Reads the generator's plan file (serving.json). */
object Plans {
  def load(path: String): Map[String, Any] =
    org.json4s.jackson.JsonMethods.parse(new File(path)).values.asInstanceOf[Map[String, Any]]

  def list(path: String): Seq[Map[String, Any]] =
    org.json4s.jackson.JsonMethods.parse(new File(path)).values
      .asInstanceOf[Seq[Map[String, Any]]]

  def asOf(data: String): String = {
    val f = new File(s"$data/serving.json")
    if (f.exists()) load(f.getPath)("as_of").toString else "2025-01-01"
  }
}
