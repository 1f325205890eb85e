package graft

import java.nio.file.Files

import graft.api.Api
import graft.gold.{GoldRefresh, GoldTables, Schemas}
import graft.views.{EntityAnomalies, EntityDailyMetrics}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Union, Window}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** API layer over the same reference-schema fixtures used by GoldParitySpec. */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(name: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .json(getClass.getResource(s"/fixtures/$name.jsonl").getPath)

  private lazy val companies = fixture("companies", Schemas.companies)
  private lazy val articles = fixture("articles", Schemas.articles)
  private lazy val ceos = fixture("ceos", Schemas.ceos)
  private lazy val camd = fixture("company_article_mentions_daily", Schemas.companyArticleMentionsDaily)
  private lazy val ceamd = fixture("ceo_article_mentions_daily", Schemas.ceoArticleMentionsDaily)
  private lazy val cam = fixture("company_article_mentions", Schemas.companyArticleMentions)
  private lazy val ceam = fixture("ceo_article_mentions", Schemas.ceoArticleMentions)
  private lazy val cao = fixture("company_article_overrides", Schemas.companyArticleOverrides)
  private lazy val ceao = fixture("ceo_article_overrides", Schemas.ceoArticleOverrides)
  private lazy val serpRuns = fixture("serp_runs", Schemas.serpRuns)
  private lazy val serpResults = fixture("serp_results", Schemas.serpResults)
  private lazy val sro = fixture("serp_result_overrides", Schemas.serpResultOverrides)
  private lazy val sfi = fixture("serp_feature_items", Schemas.serpFeatureItems)
  private lazy val sfio = fixture("serp_feature_item_overrides", Schemas.serpFeatureItemOverrides)
  private lazy val sfuo = fixture("serp_feature_url_overrides", Schemas.serpFeatureUrlOverrides)

  private lazy val articleMv = GoldTables.articleDailyCounts(camd, ceamd, companies, ceos, cao, ceao)
  private lazy val eff = GoldTables.featureItemsEffective(sfi, sfio, sfuo)
  private lazy val featureMv = GoldTables.serpFeatureSentiment(eff, GoldTables.EntityGrain)
  private lazy val serpMv = GoldTables.serpDailyCounts(serpRuns, serpResults, sro, companies, ceos)
  private lazy val featureControlMv = GoldTables.serpFeatureControl(eff, GoldTables.EntityGrain)
  private lazy val crisisLeg = EntityDailyMetrics.articleCrisis(camd, ceamd, cam, ceam, ceos)
  private lazy val edm = EntityDailyMetrics.build(
    articleMv, serpMv, crisisLeg,
    EntityDailyMetrics.topStoriesSentiment(featureMv, companies, ceos),
    EntityDailyMetrics.topStoriesControl(featureControlMv))

  /** The fixture gold: all 7 tables written by the gold refresh and read
    * back from parquet, as the endpoints read them in service. */
  private lazy val goldDir = {
    val dir = Files.createTempDirectory("graft-api-gold").toString
    GoldRefresh.refreshToParquet(GoldRefresh.BronzeInputs(companies, ceos, articles, cam, ceam,
      camd, ceamd, cao, ceao, serpRuns, serpResults, sro, sfi, sfio, sfuo), dir)
    dir
  }
  private def gold(table: String): DataFrame = spark.read.parquet(s"$goldDir/$table")

  /** `body`'s result and the number of Spark jobs it fired, counted through
    * a job group in the status tracker. The tracker fills asynchronously but
    * in event order, so once a marker job run afterwards is visible, so are
    * all of `body`'s jobs. */
  private def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"api-spec-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "measured")
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-marker", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    eventually(timeout(Span(30, Seconds))) {
      assert(sc.statusTracker.getJobIdsForGroup(s"$group-marker").nonEmpty)
    }
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  private def assertSorted[K: Ordering](keys: Seq[K]): Unit =
    assert(keys == keys.sorted, s"answer not in key order: $keys")

  test("dailyCounts: brand aliasing, scope filter, (date, company) order") {
    // days clamps to SeriesMaxDays (365) per the reference guardrail, so
    // anchor asOf inside the fixture window
    val asOf = lit("2025-04-15").cast("date")
    val all = Api.dailyCounts(articleMv, "brand", 100000, asOf = asOf)
    assert(all.select("entity_type").distinct().as[String].collect().toSet == Set("brand"))
    val scoped = Api.dailyCounts(articleMv, "brand", 100000, Some(Seq("c1")), asOf = asOf)
    assert(scoped.select("company_id").distinct().as[String].collect().toSeq == Seq("c1"))
    val keys = all.select(col("date").cast("string"), col("company")).as[(String, String)]
      .collect().toSeq
    assert(keys.map(_._2).distinct.size > 1)
    assertSorted(keys)
  }

  test("point reads over gold: one Spark job, no Exchange") {
    val asOf = lit("2025-04-15").cast("date")
    val reads = Seq(
      "dailyCounts" ->
        Api.dailyCounts(gold("article_daily_counts"), "brand", 365, asOf = asOf),
      "serpFeatureSeries" -> Api.serpFeatureSeries(gold("serp_feature_daily"), "brand",
        "acme corporation", Nil, 365, asOf),
      "negativeSummary" ->
        Api.negativeSummary(gold("negative_summary"), lit("2025-04-10").cast("date")))
    for ((name, df) <- reads) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"$name must not shuffle:\n" + p.take(2000))
      val (rows, jobs) = withJobCount(df.collect())
      assert(rows.nonEmpty, name)
      assert(jobs == 1, s"$name collect fired $jobs jobs")
    }
  }

  test("negativeSummary: one day, negative-or-crisis rows, scope, (negative_count desc, company)") {
    def answer(date: String, scope: Option[Seq[String]] = None) =
      Api.negativeSummary(gold("negative_summary"), lit(date).cast("date"), scope)
        .select(col("date").cast("string"), col("company_id"), col("ceo"),
          col("negative_count"), col("crisis_risk_count"))
        .as[(String, String, String, Long, Long)].collect().toSeq
    // 2025-04-10 also holds Jane Doe's (0 negative, 0 crisis) row, which the
    // filter drops; a crisis-only row stays
    assert(answer("2025-04-10") == Seq(
      ("2025-04-10", "c1", "", 2L, 0L),
      ("2025-04-10", "c2", "John Smith", 1L, 1L),
      ("2025-04-10", "c2", "", 0L, 1L)))
    assert(answer("2025-04-10", Some(Seq("c2"))) == Seq(
      ("2025-04-10", "c2", "John Smith", 1L, 1L),
      ("2025-04-10", "c2", "", 0L, 1L)))
    // equal negative counts fall back to company order
    val tied = Api.negativeSummary(gold("negative_summary"), lit("2025-04-04").cast("date"))
      .select("negative_count", "company").as[(Long, String)].collect().toSeq
    assert(tied == Seq((1L, "Acme Corporation"), (1L, "Globex Group"), (1L, "Globex Group")))
  }

  test("screen: window aggregate with having + composite order + limit") {
    val got = Api.screen(edm, companies, "article_negative_count", "brand",
      lit("2025-03-01").cast("date"), lit("2025-04-14").cast("date"),
      minTotal = 1, limit = 2)
    val rows = got.select("entity_id", "window_value", "signal_days").collect()
    assert(rows.length <= 2)
    assert(rows.nonEmpty)
    // descending by window_value
    val wv = rows.map(_.getLong(1))
    assert(wv.sameElements(wv.sortBy(-_)))
    // sector filter excludes non-matching
    val tech = Api.screen(edm, companies, "article_negative_count", "brand",
      lit("2025-03-01").cast("date"), lit("2025-04-14").cast("date"),
      sectorContains = Some("tech"), limit = 10)
    assert(tech.select("sector").distinct().as[String].collect().forall(_.toLowerCase.contains("tech")))
  }

  test("trendSummary: 7-vs-prior-7 windows, deltas, impact label domain") {
    val got = Api.trendSummary(edm, "brand", "c1")
    assert(got.count() == 1)
    val r = got.collect()(0)
    val cur = r.getAs[Long]("article_negative_count_7d")
    val prior = r.getAs[Long]("article_negative_count_prior_7d")
    assert(r.getAs[Long]("article_negative_count_delta") == cur - prior)
    val label = r.getAs[String]("search_impact")
    assert(Set("news_and_search_negative", "search_negative",
      "news_and_search_uncontrolled", "search_uncontrolled", "news_only", "muted")
      .contains(label))
  }

  test("entity_daily_metrics: two top-stories names keep two rows; a null-date key keeps no values") {
    // brand g1 is in no dims table, so its sentiment leg groups by the
    // items' own names: two rows for one (date, entity_type, entity_id) key,
    // both kept by the reference's left joins. A serp row with a null date
    // joins nothing there: its key stays, without the row's values.
    def ghost(rows: Seq[(String, String, Long, Long, Long, Long)]) = rows
      .toDF("entity_name", "feature_type", "total_count", "positive_count",
        "neutral_count", "negative_count")
      .select(lit("2025-03-01").cast("date").as("date"), lit("brand").as("entity_type"),
        lit("g1").as("entity_id"), col("*"))
    val features = featureMv.unionByName(ghost(Seq(
      ("Ghost Co", "top_stories_items", 3L, 1L, 0L, 2L),
      ("Ghost Company", "top_stories_items", 2L, 0L, 1L, 1L))))
    val control = featureControlMv.unionByName(Seq(("Ghost Co", 3L, 1L))
      .toDF("entity_name", "total_count", "controlled_count")
      .select(lit("2025-03-01").cast("date").as("date"), lit("brand").as("entity_type"),
        lit("g1").as("entity_id"), col("entity_name"),
        lit("top_stories_items").as("feature_type"), col("total_count"),
        col("controlled_count")))
    val serp = serpMv.unionByName(serpMv.filter(col("entity_id") === "c1").limit(1)
      .withColumn("date", lit(null).cast("date")))
    val got = EntityDailyMetrics.build(articleMv, serp, crisisLeg,
      EntityDailyMetrics.topStoriesSentiment(features, companies, ceos),
      EntityDailyMetrics.topStoriesControl(control))
      .filter(col("entity_id") === "g1" || col("date").isNull)
      .collect().map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|"))
      .sorted.toSeq
    // rows pinned from the reference-shaped key union + five left joins
    assert(got == Seq(
      "2025-03-01|brand|g1|g1|null|Ghost Company|Ghost Company||0|0|0|0|0.000000|0|0|0|0|0|0|2|0|1|1|1|1|0",
      "2025-03-01|brand|g1|g1|null|Ghost Co|Ghost Co||0|0|0|0|0.000000|0|0|0|0|0|0|3|1|0|2|1|2|0",
      "null|brand|c1|null|null||||0|0|0|0|0.000000|0|0|0|0|0|0|0|0|0|0|0|0|0"))
  }

  test("entity_daily_metrics plan: one aggregate over the unioned legs, one join above it") {
    val legs = Seq(articleMv, serpMv, crisisLeg,
      EntityDailyMetrics.topStoriesSentiment(featureMv, companies, ceos),
      EntityDailyMetrics.topStoriesControl(featureControlMv)).map(_.localCheckpoint())
    val plan = EntityDailyMetrics.build(legs(0), legs(1), legs(2), legs(3), legs(4))
      .queryExecution.optimizedPlan
    val unions = plan.collect { case u: Union => u }
    assert(unions.size == 1, s"one union of the legs:\n$plan")
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.size == 1 && aggs.head.child.exists(_ eq unions.head),
      s"one aggregate, over the union:\n$plan")
    val joins = plan.collect { case j: Join => j }
    assert(joins.size == 1 && joins.head.left.exists(_ eq aggs.head),
      s"only the sentiment leg joins, above the aggregate:\n$plan")
  }

  test("entity_anomalies plan: no union, no more windows than the baseline") {
    val daily = edm.localCheckpoint()
    def windows(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect { case w: Window => w }.size
    val built = EntityAnomalies.build(daily)
    val plan = built.queryExecution.optimizedPlan
    assert(!plan.exists(_.isInstanceOf[Union]), s"rules must not union:\n$plan")
    assert(windows(built) <= windows(EntityAnomalies.baseline(daily)),
      s"the baseline must be computed once:\n$plan")
  }

  test("anomalies + serpFeatureSeries filters") {
    val an = EntityAnomalies.build(edm)
    val got = Api.anomalies(an, "brand", "c2", days = 180, limit = 5,
      asOf = lit("2025-04-14").cast("date"))
    assert(got.count() <= 5)
    val series = Api.serpFeatureSeries(featureMv, "brand", "acme corporation",
      Seq("top_stories_items"), days = 365, asOf = lit("2025-04-14").cast("date"))
    assert(series.select("feature_type").distinct().as[String].collect().toSeq ==
      Seq("top_stories_items"))
    assert(series.count() > 0)
    val keys = Api.serpFeatureSeries(featureMv, "brand", "acme corporation", Nil,
      days = 365, asOf = lit("2025-04-14").cast("date"))
      .select(col("date").cast("string"), col("feature_type")).as[(String, String)]
      .collect().toSeq
    assert(keys.map(_._2).distinct.size > 1)
    assertSorted(keys)
  }

  test("endpoint guardrails: reference clamp semantics") {
    import graft.api.ApiLimits._
    assert(clampLimit(0, ScreenMaxLimit) == 1)
    assert(clampLimit(-5, AnomaliesMaxLimit) == 1)
    assert(clampLimit(99999, ArticlesMaxLimit) == 1000)
    assert(clampLimit(99999, FeatureItemsMaxLimit) == 500)
    assert(clampLimit(99999, AnomaliesMaxLimit) == 200)
    assert(clampLimit(99999, ScreenMaxLimit) == 100)
    assert(clampOffset(-3) == 0 && clampOffset(7) == 7)
    assert(clampDays(0, SeriesMaxDays) == 1)
    assert(clampDays(9999, SeriesMaxDays) == 365)
    assert(clampDays(9999, TrendMaxDays) == 180)
    assert(clampDays(9999, ScreenMaxDays) == 90)
  }

  test("evidence: A10 dedup keeps highest sort_weight, ordered and capped") {
    val rows = Seq(
      ("2025-05-02", "article", "T1", "u1", 5L),
      ("2025-05-02", "article", "T1", "u1", 9L), // same key, higher weight wins
      ("2025-05-02", "top_stories", "T1", "u1", 3L), // different evidence_type
      ("2025-05-01", "article", "T2", "u2", 7L),
      ("2025-04-01", "article", "old", "u3", 9L) // outside window
    ).toDF("ds", "evidence_type", "title", "url", "sort_weight")
      .withColumn("date", col("ds").cast("date")).drop("ds")
    val got = Api.evidence(rows, lit("2025-05-01").cast("date"),
      lit("2025-05-31").cast("date"), limit = 10)
      .select("date", "evidence_type", "title", "sort_weight")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("2025-05-02", "article", "T1", 9L),
      ("2025-05-02", "top_stories", "T1", 3L),
      ("2025-05-01", "article", "T2", 7L)))
  }

  test("narrative overlay: five-pass selection order then chronological page") {
    val w = Seq(
      // (display_tag, start, end, duration, neg, active_on_end)
      ("Fraud", "2025-01-05", "2025-01-09", 5, 10, false),
      ("Legal", "2025-01-01", "2025-01-10", 10, 3, false),
      ("Breach", "2025-02-01", "2025-02-03", 3, 50, true), // active wins all
      ("Labor", "2025-01-02", "2025-01-11", 10, 4, false) // same dur as Legal, later end
    ).toDF("display_tag", "start_date", "end_date", "duration_days",
      "negative_item_count", "active_on_end_date")
    // selection order: Breach (active), Labor (dur 10, end 01-11),
    // Legal (dur 10, end 01-10), Fraud -> limit 3 drops Fraud;
    // page re-sorted chronologically by start
    val got = Api.narrativeOverlayWindows(w, limit = 3)
      .select("display_tag").as[String].collect()
    assert(got.toSeq == Seq("Legal", "Labor", "Breach"))
  }

  test("processedArticles: (entity_name, title) pagination with caps") {
    val rows = Seq(
      ("2025-05-01", "brand", "Acme", "B title"),
      ("2025-05-01", "brand", "Acme", "A title"),
      ("2025-05-01", "brand", "Zeta", "C title"),
      ("2025-05-01", "ceo", "Jane", "X title"),
      ("2025-05-02", "brand", "Acme", "other day")
    ).toDF("ds", "entity_type", "entity_name", "title")
      .withColumn("date", col("ds").cast("date")).drop("ds")
    val got = Api.processedArticles(rows, lit("2025-05-01").cast("date"),
      "brand", limit = 2, offset = 1)
      .select("entity_name", "title").as[(String, String)].collect()
    assert(got.toSeq == Seq(("Acme", "B title"), ("Zeta", "C title")))
  }

  test("narrativeTimeline: weighted buckets, group votes, trailing streak") {
    import java.sql.Date
    def row(ds: String, primary: String, group: String, tags: Seq[String],
        counts: Map[String, Long], crisis: Boolean) =
      (Date.valueOf(ds), primary, group, tags, counts, crisis)
    val rows = Seq(
      // Fraud active 06-03..06-05 (streak 3), also seen 06-01 (gap)
      row("2025-06-01", "Fraud", "crisis", Seq("Fraud"), Map("Fraud" -> 2L), true),
      row("2025-06-03", "Fraud", "crisis", Seq("Fraud", "Legal & Regulatory"),
        Map("Fraud" -> 3L, "Legal & Regulatory" -> 1L), true),
      row("2025-06-04", "Fraud", "crisis", Seq("Fraud"), Map("Fraud" -> 1L), true),
      row("2025-06-05", "Fraud", "crisis", Seq("Fraud"), Map("Fraud" -> 4L), true),
      // M&A non-crisis on the target day only
      row("2025-06-05", "Mergers and acquisitions", "non_crisis",
        Seq("Mergers and acquisitions"), Map("Mergers and acquisitions" -> 1L), false)
    ).toDF("date", "primary_tag", "primary_group", "tags", "tag_counts", "is_crisis")

    val got = Api.narrativeTimeline(rows, Date.valueOf("2025-06-05"), 30)
      .select("tag", "display_tag", "group", "active_on_date",
        "current_duration_days", "mentions_on_date", "mentions_total",
        "days_present", "current_start_date")
      .collect()
    val byTag = got.map(r => r.getString(0) -> r).toMap

    val fraud = byTag("Fraud")
    assert(fraud.getString(2) == "crisis" && fraud.getBoolean(3))
    assert(fraud.getInt(4) == 3) // streak 06-03..05, gap breaks 06-01
    assert(fraud.getLong(5) == 4L && fraud.getLong(6) == 10L)
    assert(fraud.getLong(7) == 4L)
    assert(fraud.get(8).toString == "2025-06-03")

    val mna = byTag("Mergers and acquisitions")
    assert(mna.getString(1) == "Mergers and acquisitions (non-crisis)")
    assert(mna.getString(2) == "non_crisis" && mna.getInt(4) == 1)

    // Legal tag: secondary on 06-03 only — inactive, votes fall to is_crisis
    val legal = byTag("Legal & Regulatory")
    assert(!legal.getBoolean(3) && legal.getInt(4) == 0 && legal.getString(2) == "crisis")

    // sort: active first (Fraud streak 3 > M&A streak 1), inactive last
    assert(got.map(_.getString(0)).toSeq ==
      Seq("Fraud", "Mergers and acquisitions", "Legal & Regulatory"))
  }

  test("narrativeTags: modal primary, weight-sorted tags, presence flags") {
    import java.sql.Date
    val rows = Seq(
      // Acme: one crisis-event row
      (Date.valueOf("2025-06-05"), "Acme", "Fraud", "crisis",
        Seq("Fraud", "Legal & Regulatory"),
        Map("Fraud" -> 2L, "Legal & Regulatory" -> 5L), Option(true)),
      // Globex: multi-row (fallback grain) — M&A appears twice, Fraud once
      (Date.valueOf("2025-06-05"), "Globex", "Mergers and acquisitions", "non_crisis",
        Seq("Mergers and acquisitions"), Map("Mergers and acquisitions" -> 1L),
        Option(false)),
      (Date.valueOf("2025-06-05"), "Globex", "Mergers and acquisitions", "non_crisis",
        Seq("Mergers and acquisitions"), Map("Mergers and acquisitions" -> 1L),
        Option(false)),
      (Date.valueOf("2025-06-05"), "Globex", "Fraud", "crisis",
        Seq("Fraud"), Map("Fraud" -> 9L), Option(true)),
      // other day must be ignored
      (Date.valueOf("2025-06-04"), "Acme", "Other", "crisis",
        Seq("Other"), Map("Other" -> 1L), Option(true))
    ).toDF("date", "entity_name", "primary_tag", "primary_group", "tags",
      "tag_counts", "is_crisis")

    val got = Api.narrativeTags(rows, lit(Date.valueOf("2025-06-05")))
      .select("entity_name", "primary_tag", "primary_display_tag", "tags",
        "display_tags", "has_crisis", "has_non_crisis")
      .as[(String, String, String, Seq[String], Seq[String], Boolean, Boolean)]
      .collect()
    assert(got.map(_._1).toSeq == Seq("Acme", "Globex"))

    val acme = got(0)
    assert(acme._2 == "Fraud" && acme._3 == "Fraud")
    // Legal weight 5 beats Fraud 2
    assert(acme._4 == Seq("Legal & Regulatory", "Fraud"))
    assert(acme._6 && !acme._7)

    val globex = got(1)
    assert(globex._2 == "Mergers and acquisitions") // modal: 2 rows beat 1
    assert(globex._3 == "Mergers and acquisitions (non-crisis)")
    // weights: Fraud 9 beats M&A 1+1=2
    assert(globex._4 == Seq("Fraud", "Mergers and acquisitions"))
    assert(globex._5 == Seq("Fraud", "Mergers and acquisitions (non-crisis)"))
    assert(globex._6 && globex._7)
  }
}
