package graft

import java.nio.file.{Files, Paths}
import java.sql.Date
import java.util.concurrent.{Callable, ConcurrentHashMap, Executors}

import scala.jdk.CollectionConverters._

import graft.gold.{GoldRefresh, GoldTables, OverrideRefresh, Schemas}
import graft.gold.GoldRefresh.BronzeInputs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Union}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** The gold refresh path: all 7 MVs written with dynamic partition
  * overwrite as concurrent per-table Spark jobs, and the override refresh
  * as the same path over the affected tables and the touched dates. Parity
  * of each builder with the reference SQL is GoldParitySpec's job; here the
  * written tables must equal a full rebuild, touch only what they should,
  * and leave the session's cache as they found it, also when a write fails. */
class GoldRefreshSpec extends SparkSpec {

  private def fixture(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .json(getClass.getResource(s"/fixtures/$name.jsonl").getPath)

  private lazy val in = BronzeInputs(
    companies = fixture("companies", Schemas.companies),
    ceos = fixture("ceos", Schemas.ceos),
    articles = fixture("articles", Schemas.articles),
    companyMentions = fixture("company_article_mentions", Schemas.companyArticleMentions),
    ceoMentions = fixture("ceo_article_mentions", Schemas.ceoArticleMentions),
    companyMentionsDaily =
      fixture("company_article_mentions_daily", Schemas.companyArticleMentionsDaily),
    ceoMentionsDaily = fixture("ceo_article_mentions_daily", Schemas.ceoArticleMentionsDaily),
    companyArticleOverrides =
      fixture("company_article_overrides", Schemas.companyArticleOverrides),
    ceoArticleOverrides = fixture("ceo_article_overrides", Schemas.ceoArticleOverrides),
    serpRuns = fixture("serp_runs", Schemas.serpRuns),
    serpResults = fixture("serp_results", Schemas.serpResults),
    serpResultOverrides = fixture("serp_result_overrides", Schemas.serpResultOverrides),
    serpFeatureItems = fixture("serp_feature_items", Schemas.serpFeatureItems),
    serpFeatureItemOverrides =
      fixture("serp_feature_item_overrides", Schemas.serpFeatureItemOverrides),
    serpFeatureUrlOverrides =
      fixture("serp_feature_url_overrides", Schemas.serpFeatureUrlOverrides))

  private val allTables = Seq(
    "serp_feature_daily", "serp_feature_control_daily", "serp_feature_daily_index",
    "serp_feature_control_daily_index", "article_daily_counts", "serp_daily_counts",
    "negative_summary")

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.selectExpr(cols: _*).collect().map(_.toString).sorted.toSeq
  }

  private def read(base: String, table: String): Seq[String] =
    canon(spark.read.parquet(s"$base/$table"))

  /** parquet file path -> mtime under `base/<table>` */
  private def fileStates(base: String, table: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$base/$table")).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  private def datePartitions(base: String, table: String): Set[String] =
    new java.io.File(s"$base/$table").list().filter(_.startsWith("date=")).toSet

  /** Runs `body` and asserts that it left the session's cache as it found
    * it: no materialized cache added or dropped, and no cached plan left
    * behind for the effective-items projection of any of `seen`. */
  private def cacheUnchanged[T](seen: BronzeInputs*)(body: => T): T = {
    def eff(i: BronzeInputs) = GoldTables.featureItemsEffective(
      i.serpFeatureItems, i.serpFeatureItemOverrides, i.serpFeatureUrlOverrides)
    def state = (spark.sparkContext.getPersistentRDDs.keySet,
      seen.map(i => eff(i).storageLevel != StorageLevel.NONE))
    val before = state
    val out = body
    assert(state == before, "the refresh changed the session's cache")
    out
  }

  /** `from` plus a "negative" sentiment override of the first fact row of
    * `mentionType` that is labelled positive (LLM label first), has no
    * override yet and lies on a date outside `taken`; returns the edited
    * inputs and that date. */
  private def edit(from: BronzeInputs, mentionType: String, taken: Set[Date])
      : (BronzeInputs, Date) = {
    val runDates = from.serpRuns.select(col("id").as("serp_run_id"),
      to_date(col("run_at")).as("date"))
    val (facts, overrides, set) = mentionType match {
      case "company_article" => (
        from.companyMentionsDaily.select(col("date"), col("company_id"), col("article_id"),
          col("sentiment_label").as("label")),
        from.companyArticleOverrides,
        (i: BronzeInputs, o: DataFrame) => i.copy(companyArticleOverrides = o))
      case "ceo_article" => (
        from.ceoMentionsDaily.select(col("date"), col("ceo_id"), col("article_id"),
          col("sentiment_label").as("label")),
        from.ceoArticleOverrides,
        (i: BronzeInputs, o: DataFrame) => i.copy(ceoArticleOverrides = o))
      case "serp_feature_item" => (
        from.serpFeatureItems.select(col("date"), col("id").as("serp_feature_item_id"),
          coalesce(col("llm_sentiment_label"), col("sentiment_label")).as("label")),
        from.serpFeatureItemOverrides,
        (i: BronzeInputs, o: DataFrame) => i.copy(serpFeatureItemOverrides = o))
      case "serp_result" => (
        from.serpResults.join(runDates, "serp_run_id").select(col("date"),
          col("id").as("serp_result_id"),
          coalesce(col("llm_sentiment_label"), col("sentiment_label")).as("label")),
        from.serpResultOverrides,
        (i: BronzeInputs, o: DataFrame) => i.copy(serpResultOverrides = o))
    }
    val keys = facts.columns.filterNot(Set("date", "label")).toSeq
    val row = facts.filter(col("label") === "positive")
      .filter(!col("date").isin(taken.toSeq.map(lit): _*))
      .join(overrides.select(keys.map(col): _*), keys, "left_anti")
      .orderBy(("date" +: keys).map(col): _*).first()
    val key = keys.map(k => k -> row.getAs[String](k)).toMap
    val ov = spark.createDataFrame(java.util.List.of(Row.fromSeq(
      overrides.schema.fieldNames.toSeq.map(n =>
        key.getOrElse(n, if (n == "override_sentiment_label") "negative" else null)))),
      overrides.schema)
    (set(from, overrides.unionByName(ov)), row.getAs[Date]("date"))
  }

  test("rebuildAll emits all 7 gold tables, caching nothing") {
    val rebuilt = cacheUnchanged(in) {
      val r = GoldRefresh.rebuildAll(in)
      r.foreach { case (_, df) => assert(df.count() > 0) }
      r
    }
    assert(rebuilt.map(_._1) == allTables)
  }

  test("brand + CEO tables run one aggregate over the union of both branches") {
    val built = GoldRefresh.rebuildAll(in).toMap
    for (t <- Seq("article_daily_counts", "serp_daily_counts")) {
      val plan = built(t).queryExecution.optimizedPlan
      val aggs = plan.collect { case a: Aggregate => a }
      assert(aggs.size == 1, s"$t must aggregate once:\n$plan")
      assert(aggs.head.child.exists(_.isInstanceOf[Union]), s"$t must union below its aggregate:\n$plan")
    }
  }

  test("rebuildAll equals each public builder called alone; written schemas are unchanged") {
    val eff = GoldTables.featureItemsEffective(
      in.serpFeatureItems, in.serpFeatureItemOverrides, in.serpFeatureUrlOverrides)
    val alone = Map(
      "serp_feature_daily" -> GoldTables.serpFeatureSentiment(eff, GoldTables.EntityGrain),
      "serp_feature_control_daily" -> GoldTables.serpFeatureControl(eff, GoldTables.EntityGrain),
      "serp_feature_daily_index" -> GoldTables.serpFeatureSentiment(eff, GoldTables.IndexGrain),
      "serp_feature_control_daily_index" ->
        GoldTables.serpFeatureControl(eff, GoldTables.IndexGrain),
      "article_daily_counts" -> GoldTables.articleDailyCounts(in.companyMentionsDaily,
        in.ceoMentionsDaily, in.companies, in.ceos, in.companyArticleOverrides,
        in.ceoArticleOverrides),
      "serp_daily_counts" -> GoldTables.serpDailyCounts(in.serpRuns, in.serpResults,
        in.serpResultOverrides, in.companies, in.ceos),
      "negative_summary" -> GoldTables.negativeSummary(in.companyMentionsDaily,
        in.ceoMentionsDaily, in.companyMentions, in.ceoMentions, in.companies, in.ceos,
        in.articles, in.companyArticleOverrides, in.ceoArticleOverrides))
    for ((t, df) <- GoldRefresh.rebuildAll(in)) {
      assert(df.schema == alone(t).schema, s"$t: schema differs from its builder's")
      assert(canon(df) == canon(alone(t)), s"$t: rows differ from its builder's")
    }

    val base = Files.createTempDirectory("graft-gold-schema").toString
    GoldRefresh.refreshToParquet(in, base)
    val counts = "positive BIGINT,neutral BIGINT,negative BIGINT,total BIGINT"
    val entity = "entity_type STRING,entity_id STRING"
    val identity = s"$entity,company_id STRING,ceo_id STRING,entity_name STRING," +
      "company STRING,ceo STRING"
    val written = Map(
      "serp_feature_daily" -> (s"$entity,entity_name STRING,feature_type STRING," +
        "total_count BIGINT,positive_count BIGINT,neutral_count BIGINT," +
        "negative_count BIGINT,date DATE"),
      "serp_feature_control_daily" -> (s"$entity,entity_name STRING," +
        "feature_type STRING,total_count BIGINT,controlled_count BIGINT,date DATE"),
      "serp_feature_daily_index" -> ("entity_type STRING,feature_type STRING," +
        "total_count BIGINT,positive_count BIGINT,neutral_count BIGINT," +
        "negative_count BIGINT,date DATE"),
      "serp_feature_control_daily_index" -> ("entity_type STRING,feature_type STRING," +
        "total_count BIGINT,controlled_count BIGINT,date DATE"),
      "article_daily_counts" ->
        s"$identity,alias STRING,$counts,neg_pct DECIMAL(38,6),date DATE",
      "serp_daily_counts" -> (s"$identity,total BIGINT,controlled BIGINT," +
        "negative_serp BIGINT,neutral_serp BIGINT,positive_serp BIGINT,date DATE"),
      "negative_summary" -> ("company_id STRING,company STRING,ceo STRING," +
        "article_type STRING,negative_count BIGINT,crisis_risk_count BIGINT," +
        "top_headlines STRING,date DATE"))
    for (t <- allTables) {
      val got = spark.read.parquet(s"$base/$t").schema.toDDL
      assert(got == written(t), s"$t: written schema changed")
    }
  }

  /** The physical children of `p`, looking through command results,
    * adaptive plans and query stages; a reused exchange has none (it is
    * counted where it is defined) and neither has a cached stage's scan. */
  private def below(p: SparkPlan): Seq[SparkPlan] = p match {
    case r: CommandResultExec => Seq(r.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _: ReusedExchangeExec | _: InMemoryTableScanExec => Nil
    case _ => p.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: below(p).flatMap(nodes)

  /** The plans `writes` ran: their own and, once each, the plan of every
    * cached stage they read (a cached stage's plan is one object for all of
    * its readers). */
  private def stagePlans(writes: Seq[SparkPlan]): Seq[SparkPlan] = {
    def reads(p: SparkPlan): Seq[SparkPlan] = p +: nodes(p).collect {
      case m: InMemoryTableScanExec => m.relation.cacheBuilder.cachedPlan
    }.flatMap(reads)
    writes.flatMap(reads).foldLeft(Seq.empty[SparkPlan])((seen, p) =>
      if (seen.exists(_ eq p)) seen else seen :+ p)
  }

  private def scans(p: SparkPlan): Seq[String] = nodes(p).collect {
    case s: FileSourceScanExec => s.relation.location.rootPaths.head.getName.stripSuffix(".jsonl")
  }

  /** Broadcast exchanges in `p` that are not inside another broadcast. */
  private def outerBroadcasts(p: SparkPlan): Seq[SparkPlan] = p match {
    case b: BroadcastExchangeExec => Seq(b)
    case _ => below(p).flatMap(outerBroadcasts)
  }

  /** The executed plan of each of the `tables` written under `base` while
    * `body` runs, by table name. */
  private def writePlans(base: String, tables: Seq[String])(body: => Unit)
      : Map[String, SparkPlan] = {
    val writes = new ConcurrentHashMap[String, SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        nodes(qe.executedPlan).collectFirst {
          case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
              if c.outputPath.getParent.toUri.getPath == base => c.outputPath.getName
        }.foreach(t => writes.put(t, qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      eventually(timeout(Span(30, Seconds)))(assert(writes.keySet.asScala == tables.toSet))
    } finally spark.listenerManager.unregister(listener)
    writes.asScala.toMap
  }

  test("a full refresh resolves each fact family once: one scan per fact table, " +
      "one broadcast per family of each dimension and override table") {
    val base = Files.createTempDirectory("graft-gold-plans").toString
    val plans = writePlans(base, allTables)(GoldRefresh.refreshToParquet(in, base))

    val scanned = stagePlans(allTables.map(plans)).flatMap(scans).groupBy(identity)
      .view.mapValues(_.size).toMap
    for (t <- Seq("serp_results", "company_article_mentions_daily",
        "ceo_article_mentions_daily"))
      assert(scanned.get(t).contains(1), s"$t scanned ${scanned.getOrElse(t, 0)} times")

    // a cached stage is built once for all of its readers: the tables it
    // reads feed the broadcasts of the plan that builds it
    val families = Map(
      "mentions" -> Seq("article_daily_counts", "negative_summary"),
      "serp results" -> Seq("serp_daily_counts"),
      "feature items" -> allTables.filter(_.startsWith("serp_feature")))
    for ((family, tables) <- families) {
      val fed = stagePlans(tables.map(plans)).flatMap(outerBroadcasts).map(scans(_).toSet)
      for (t <- Seq("companies", "ceos", "company_article_overrides", "ceo_article_overrides",
          "serp_result_overrides", "serp_feature_item_overrides", "serp_feature_url_overrides")) {
        val n = fed.count(_.contains(t))
        assert(n <= 1, s"$t feeds $n broadcasts of the $family family: $fed")
      }
    }
  }

  test("a shared stage is persisted only when two or more of the refreshed tables read it") {
    def cachedReaders(plans: Map[String, SparkPlan]): Set[String] = plans.collect {
      case (t, p) if nodes(p).exists(_.isInstanceOf[InMemoryTableScanExec]) => t
    }.toSet
    val base = Files.createTempDirectory("graft-gold-persist").toString
    val full = writePlans(base, allTables)(GoldRefresh.refreshToParquet(in, base))
    // effective mentions: article_daily_counts + negative_summary; feature
    // items: the four serp-feature tables; serp_daily_counts reads neither
    assert(cachedReaders(full) == allTables.filterNot(_ == "serp_daily_counts").toSet)
    val date = in.serpFeatureItems.select("date").head().getDate(0)
    for ((m, affected) <- OverrideRefresh.Dependencies.toSeq.sortBy(_._1)) {
      val plans = writePlans(base, affected)(
        OverrideRefresh.refreshAfterOverride(in, base, m, Seq(date)))
      val expected = if (m == "serp_feature_item") affected.toSet else Set.empty[String]
      assert(cachedReaders(plans) == expected, s"$m")
    }
  }

  test("refreshToParquet writes date-partitioned tables readable back intact") {
    val base = Files.createTempDirectory("graft-gold").toString
    val times = cacheUnchanged(in)(GoldRefresh.refreshToParquet(in, base))
    assert(times.map(_._1) == allTables)
    val back = spark.read.parquet(s"$base/article_daily_counts")
    assert(back.columns.contains("date")) // partition column restored
    assert(canon(back) == canon(GoldRefresh.rebuildAll(in).toMap.apply("article_daily_counts")))
  }

  test("refreshToParquet: one table's failed write fails the refresh after the others are written") {
    val base = Files.createTempDirectory("graft-gold-fail").toString
    // a regular file where negative_summary's directory must go
    Files.write(Paths.get(base, "negative_summary"), Array[Byte](0))
    val err = cacheUnchanged(in)(intercept[Exception](GoldRefresh.refreshToParquet(in, base)))
    assert(err.getMessage.contains("negative_summary"), s"not negative_summary's failure: $err")
    assert(Files.isRegularFile(Paths.get(base, "negative_summary")))
    val full = GoldRefresh.rebuildAll(in).toMap
    for (t <- allTables.filterNot(_ == "negative_summary"))
      assert(read(base, t) == canon(full(t)), s"$t diverged from a full rebuild")
  }

  test("refreshToParquet: every table's write is its own concurrent job in the caller's job group") {
    val sc = spark.sparkContext
    val group = s"gold-refresh-${java.util.UUID.randomUUID()}"
    // job id -> (job group, description, start ms); job id -> end ms
    val started = new ConcurrentHashMap[Int, (String, String, Long)]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.put(e.jobId,
        (e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description"), e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
    }
    val base = Files.createTempDirectory("graft-gold-jobs").toString
    val t0 = System.currentTimeMillis()
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "gold refresh under test")
      try GoldRefresh.refreshToParquet(in, base) finally sc.clearJobGroup()
      // listener events arrive in order: once a later job has ended, every
      // event of the refresh has been seen
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds))) {
        assert(started.asScala.exists { case (id, (g, _, _)) =>
          g == s"$group-marker" && ended.containsKey(id) })
      }
    } finally sc.removeSparkListener(listener)

    val jobs = started.asScala.toSeq.collect {
      case (id, (g, desc, start)) if start >= t0 && g != s"$group-marker" =>
        (g, desc, start, ended.get(id))
    }
    assert(jobs.forall(_._1 == group), s"jobs outside the caller's job group: $jobs")
    assert(jobs.map(_._2).toSet == allTables.map(t => s"gold refresh: $t").toSet)
    val overlapping = for {
      (_, a, aStart, aEnd) <- jobs
      (_, b, bStart, bEnd) <- jobs
      if a != b && aStart < bEnd && bStart < aEnd
    } yield (a, b)
    assert(overlapping.nonEmpty, "no two tables' jobs ran at the same time")
  }

  test("override refresh: incremental == full rebuild, untouched partitions' files unmodified") {
    val base = Files.createTempDirectory("graft-ovr").toString
    GoldRefresh.refreshToParquet(in, base)

    // one analyst edit per mention type, each on its own date, applied in
    // turn to the same gold directory
    var edited = in
    var taken = Set.empty[Date]
    for (m <- OverrideRefresh.Dependencies.keys.toSeq.sorted) {
      val (next, date) = edit(edited, m, taken)
      edited = next
      taken += date
      val affected = OverrideRefresh.Dependencies(m)
      val files = allTables.map(t => t -> fileStates(base, t)).toMap
      val rows = affected.map(t => t -> read(base, t)).toMap

      val times = cacheUnchanged(edited, edited.on(Seq(date)))(
        OverrideRefresh.refreshAfterOverride(edited, base, m, Seq(date)))
      assert(times.map(_._1) == affected)

      val full = GoldRefresh.rebuildAll(edited).toMap
      val touched = s"date=$date"
      for (t <- affected) {
        assert(read(base, t) == canon(full(t)), s"$m: $t diverged from a full rebuild")
        // untouched DATE partitions: files unmodified; the touched one rewritten
        val after = fileStates(base, t)
        files(t).filterNot(_._1.contains(touched)).foreach { case (path, mtime) =>
          assert(after.get(path).contains(mtime), s"$m: untouched partition file rewritten: $path")
        }
        assert(after.keySet.filter(_.contains(touched)) !=
          files(t).keySet.filter(_.contains(touched)), s"$m: $t/$touched must be rewritten")
      }
      assert(affected.exists(t => read(base, t) != rows(t)), s"$m: the edit changed nothing")
      for (t <- allTables.diff(affected))
        assert(fileStates(base, t) == files(t), s"$t is not downstream of $m but was rewritten")
    }
  }

  test("concurrent override refreshes on distinct dates keep every partition") {
    val base = Files.createTempDirectory("graft-ovr-par").toString
    GoldRefresh.refreshToParquet(in, base)
    val partitions = allTables.map(t => t -> datePartitions(base, t)).toMap

    // four edits per mention type, all on distinct dates
    val types = OverrideRefresh.Dependencies.keys.toSeq.sorted
    val (edited, edits) = Seq.fill(4)(types).flatten.foldLeft((in, Seq.empty[(String, Date)])) {
      case ((i, done), m) =>
        val (next, date) = edit(i, m, done.map(_._2).toSet)
        (next, done :+ (m -> date))
    }
    // the session default: every refresh must overwrite dynamically anyway,
    // and leave the session's setting as it found it
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(modeKey, "static")
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = edits.map { case (m, date) =>
        pool.submit(new Callable[Seq[(String, Double)]] {
          def call() = OverrideRefresh.refreshAfterOverride(edited, base, m, Seq(date))
        })
      }
      calls.foreach(_.get())
    } finally pool.shutdown()

    val full = GoldRefresh.rebuildAll(edited).toMap
    for (t <- allTables)
      assert(datePartitions(base, t) == partitions(t), s"$t lost date partitions")
    for (t <- types.flatMap(OverrideRefresh.Dependencies).distinct)
      assert(read(base, t) == canon(full(t)), s"$t diverged from a full rebuild")
    assert(spark.conf.get(modeKey) == "static")
  }
}
