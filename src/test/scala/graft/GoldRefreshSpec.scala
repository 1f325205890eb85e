package graft

import java.nio.file.{Files, Paths}
import java.sql.Date
import java.util.concurrent.{Callable, ConcurrentHashMap, Executors}

import scala.jdk.CollectionConverters._

import graft.gold.{GoldRefresh, GoldTables, OverrideRefresh, Schemas}
import graft.gold.GoldRefresh.BronzeInputs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Union}
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
