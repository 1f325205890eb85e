package graft.api

import graft.operators.Rollups.countIf
import graft.views.EntityDailyMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Endpoint-equivalent query functions (reference step 7): each function is
  * the DataFrame form of one Flask route's SQL + post-processing, reading
  * the gold/view tables built by graft.gold / graft.views. All are thin —
  * the heavy lifting happened at gold-build time. Date filters prune the
  * date partitions and plain column predicates (entity kind, scope ids,
  * feature types) push down into the parquet scan; `serpFeatureSeries`'s
  * case-insensitive name match (`lower(entity_name)`) cannot be pushed, so
  * it filters the rows of the pruned partitions after the scan.
  *
  * Answer ordering: a point endpoint (`dailyCounts`, `serpFeatureSeries`,
  * `negativeSummary`, and the [[SerpFeatures]] series) returns its answer
  * as ONE sorted partition ([[answer]]): the ordering adds no job and no
  * shuffle, so the three filter-only point reads over gold each run as a
  * single Spark job with no Exchange. The answer's size is bounded by the
  * [[ApiLimits]] lookback caps times the entity scope. Endpoints that end
  * in a capped top-k (`orderBy(...).limit(...)`) already plan a
  * single-stage `TakeOrderedAndProject` and keep it.
  */
object Api {

  /** The terminal ordering of a point endpoint's answer: every row in one
    * partition, sorted there. This replaces a global `orderBy`, whose range
    * partitioning costs a sampling job and a shuffle before the sort, and it
    * is right at any table size because:
    *  - the answer is collected whole by one client, so all of it ends up
    *    in one process anyway;
    *  - it is bounded by the [[ApiLimits]] lookback caps (at most 365 days)
    *    times the entity scope, never by the table;
    *  - one sorted partition is exactly what `collect()` returns, in order.
    */
  private[api] def answer(df: DataFrame, order: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(order: _*)

  /** P2: 'brand' is compatible with {'brand','company'}
    * (`dashboard_app/app.py:187-198`). */
  def entityTypeFilter(c: Column, entityType: String): Column =
    if (entityType == "brand" || entityType == "company") c.isin("brand", "company")
    else c === entityType

  /** `GET /api/v1/daily_counts` (`app.py:2757-2787`): filter the
    * article-daily-counts gold table by entity kind, rolling window, and
    * company scope; order by (date, company). */
  def dailyCounts(
      articleDailyCounts: DataFrame,
      entityType: String,
      days: Int,
      scopeCompanyIds: Option[Seq[String]] = None,
      asOf: Column = current_date()): DataFrame = {
    val scoped = scopeCompanyIds match {
      case Some(ids) => articleDailyCounts.filter(col("company_id").isin(ids: _*))
      case None => articleDailyCounts
    }
    answer(scoped
      .filter(entityTypeFilter(col("entity_type"), entityType))
      .filter(col("date") >= date_sub(asOf, ApiLimits.clampDays(days, ApiLimits.SeriesMaxDays))),
      col("date"), col("company"))
  }

  /** `GET /api/v1/insights/screen` (`app.py:4400-4426`, A6): rank entities
    * by a screenable metric over a date window. */
  def screen(
      entityDailyMetrics: DataFrame,
      companies: DataFrame,
      metric: String,
      entityType: String,
      startDate: Column,
      endDate: Column,
      minTotal: Long = 1L,
      sectorContains: Option[String] = None,
      limit: Int = 25): DataFrame = {
    val m = col(metric)
    val base = entityDailyMetrics
      .filter(col("entity_type") === entityType)
      .filter(col("date").between(startDate, endDate))
      .join(broadcast(companies.select(col("id").as("company_id"),
        coalesce(col("sector"), lit("")).as("sector"))), Seq("company_id"))
    val sectorFiltered = sectorContains match {
      case Some(s) => base.filter(lower(col("sector")).contains(s.toLowerCase(java.util.Locale.ROOT))) // P5
      case None => base
    }
    sectorFiltered
      .groupBy(col("entity_type"), col("entity_id"), col("company_id"), col("ceo_id"))
      .agg(
        max(col("entity_name")).as("entity_name"),
        max(col("company")).as("company"),
        max(col("ceo")).as("ceo"),
        max(col("sector")).as("sector"),
        sum(m).as("window_value"),
        max(when(col("date") === endDate, m)).as("latest_value"),
        max(m).as("peak_value"),
        countIf(m > 0).as("signal_days"))
      .filter(col("window_value") >= minTotal)
      // Postgres `latest_value desc` is NULLS FIRST (entities without a row
      // on the window end sort above equal-window peers) — matters for
      // which rows survive the limit
      .orderBy(col("window_value").desc,
        col("latest_value").desc_nulls_first, col("entity_name"))
      .limit(ApiLimits.clampLimit(limit, ApiLimits.ScreenMaxLimit))
  }

  private val trendMetrics = Seq(
    "article_negative_count", "article_total_count", "serp_negative_count",
    "serp_uncontrolled_count", "top_stories_negative_count",
    "top_stories_uncontrolled_count", "crisis_risk_count")

  /** `GET /api/v1/insights/trend_summary` (K9, `app.py:5137-5266`): last-7-
    * observation window vs the prior 7, per-metric deltas, and the
    * `classify_search_impact` label (`app.py:1443-1463`). One row per
    * requested entity. */
  def trendSummary(entityDailyMetrics: DataFrame, entityType: String,
      entityId: String): DataFrame = {
    val w = Window.partitionBy("entity_id")
      .orderBy(col("date").desc, col(EntityDailyMetrics.dateTieBreak))
    val tagged = entityDailyMetrics
      .filter(entityTypeFilter(col("entity_type"), entityType) &&
        col("entity_id") === entityId)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__bucket",
        when(col("__rn") <= 7, "current").when(col("__rn") <= 14, "prior"))
      .filter(col("__bucket").isNotNull)
    val aggs = trendMetrics.flatMap { m =>
      Seq(
        sum(when(col("__bucket") === "current", col(m)).otherwise(0L)).as(s"${m}_7d"),
        sum(when(col("__bucket") === "prior", col(m)).otherwise(0L)).as(s"${m}_prior_7d"))
    }
    val summed = tagged.groupBy("entity_type", "entity_id")
      .agg(aggs.head, aggs.tail: _*)
    val withDeltas = trendMetrics.foldLeft(summed) { (df, m) =>
      df.withColumn(s"${m}_delta", col(s"${m}_7d") - col(s"${m}_prior_7d"))
    }
    val news = col("article_negative_count_7d") >= 7
    val negSearch = col("serp_negative_count_7d") >= 3 ||
      col("top_stories_negative_count_7d") >= 4
    // `classify_search_impact`'s "uncontrolled" and `build_search_nuance`'s
    // (`app.py:1466-1490`) "gap" are the same predicate
    val uncontrolled = col("serp_uncontrolled_count_7d") >= 5 ||
      col("top_stories_uncontrolled_count_7d") >= 4
    withDeltas
      .withColumn("search_impact",
        when(negSearch && news, "news_and_search_negative")
          .when(negSearch, "search_negative")
          .when(uncontrolled && news, "news_and_search_uncontrolled")
          .when(uncontrolled, "search_uncontrolled")
          .when(news, "news_only")
          .otherwise("muted"))
      .withColumn("search_nuance",
        when(negSearch && uncontrolled, "negative_visibility_and_control_gap")
          .when(negSearch, "negative_visibility")
          .when(uncontrolled, "control_gap_without_negative_visibility")
          .otherwise("low_or_controlled_search_signal"))
  }

  /** `GET /api/v1/insights/anomalies` (`app.py:5197-5216`): filter + cap. */
  def anomalies(anomaliesView: DataFrame, entityType: String, entityId: String,
      days: Int, limit: Int = 12, asOf: Column = current_date()): DataFrame =
    anomaliesView
      .filter(entityTypeFilter(col("entity_type"), entityType) &&
        col("entity_id") === entityId)
      .filter(col("date") >= date_sub(asOf, ApiLimits.clampDays(days, ApiLimits.TrendMaxDays)))
      .orderBy(col("date").desc, col("severity_score").desc)
      .limit(ApiLimits.clampLimit(limit, ApiLimits.AnomaliesMaxLimit))

  /** `GET /api/v1/serp_features/series` (`app.py:3118-3139`): per-feature
    * daily series for one entity, brand/company aliasing applied. */
  def serpFeatureSeries(serpFeatureDaily: DataFrame, entityType: String,
      entityName: String, featureTypes: Seq[String], days: Int,
      asOf: Column = current_date()): DataFrame =
    answer(serpFeatureDaily
      .filter(entityTypeFilter(col("entity_type"), entityType))
      .filter(lower(col("entity_name")) === entityName.toLowerCase(java.util.Locale.ROOT)) // P8
      .filter(if (featureTypes.isEmpty) lit(true)
        else col("feature_type").isin(featureTypes: _*))
      .filter(col("date") >= date_sub(asOf, ApiLimits.clampDays(days, ApiLimits.SeriesMaxDays))),
      col("date"), col("feature_type"))

  /** `GET /api/v1/negative_summary` (`app.py:7011-7041`): one day's negative
    * article summary, scope-filtered. */
  def negativeSummary(negativeSummaryMv: DataFrame, onDate: Column,
      scopeCompanyIds: Option[Seq[String]] = None): DataFrame = {
    val scoped = scopeCompanyIds match {
      case Some(ids) => negativeSummaryMv.filter(col("company_id").isin(ids: _*))
      case None => negativeSummaryMv
    }
    answer(scoped.filter(col("date") === onDate)
      .filter(col("negative_count") > 0 || col("crisis_risk_count") > 0),
      col("negative_count").desc, col("company"))
  }

  /** `GET /api/v1/insights/evidence` (A10, `app.py:5346-5530`): evidence
    * rows (articles + top-stories union, negative-or-uncontrolled) deduped
    * per (date, evidence_type, url, title) keeping the highest sort_weight,
    * ordered date desc / sort_weight desc / title, capped at the evidence
    * limit. Ties on the full dedup key are broken by sort_weight exactly as
    * the reference's `distinct on ... order by ..., sort_weight desc`. */
  def evidence(
      evidenceRows: DataFrame,
      startDate: Column,
      endDate: Column,
      limit: Int = 50): DataFrame = {
    val keyed = evidenceRows
      .filter(col("date").between(startDate, endDate))
      .withColumn("__u", coalesce(col("url"), lit("")))
      .withColumn("__t", coalesce(col("title"), lit("")))
    graft.operators.Effective.latestWins(keyed,
      Seq("date", "evidence_type", "__u", "__t"),
      Seq(col("sort_weight").desc))
      .drop("__u", "__t")
      .orderBy(col("date").desc, col("sort_weight").desc, col("title"))
      .limit(ApiLimits.clampLimit(limit, ApiLimits.AnomaliesMaxLimit))
  }

  /** `GET /api/v1/narrative_overlay` window ordering (O4,
    * `app.py:4116-4128`): the reference runs FIVE sequential stable sorts
    * (last key most significant) to pick the top windows, then re-sorts the
    * selected page chronologically. A single orderBy with the keys in
    * reverse significance order is equivalent (rows equal on every key are
    * unordered in both engines). `limit = 0` means all windows. */
  def narrativeOverlayWindows(windows: DataFrame, limit: Int): DataFrame = {
    val selected = windows.orderBy(
      when(col("active_on_end_date"), 0).otherwise(1),
      col("duration_days").desc_nulls_last,
      col("end_date").desc_nulls_last,
      col("negative_item_count").desc_nulls_last,
      lower(col("display_tag")))
    val page = if (limit == 0) selected else selected.limit(limit)
    page.orderBy(col("start_date"), col("end_date"), lower(col("display_tag")))
  }

  /** `GET /api/v1/processed_articles` (`app.py:2855-2980`): modal list —
    * entity-day article rows ordered by (entity name, title), paginated
    * with the 1000-row cap. */
  def processedArticles(
      mentionRows: DataFrame,
      onDate: Column,
      entityType: String,
      limit: Int = 200,
      offset: Int = 0): DataFrame = {
    val filtered = mentionRows
      .filter(entityTypeFilter(col("entity_type"), entityType) && col("date") === onDate)
    graft.operators.Windows.paginate(filtered,
      Seq(col("entity_name"), col("title")),
      ApiLimits.clampOffset(offset),
      ApiLimits.clampLimit(limit, ApiLimits.ArticlesMaxLimit))
  }

  /** `GET /api/v1/narrative_timeline` (`app.py:3637-3905`): per-tag rollup
    * of an entity's narrative daily rows over the lookback window — weighted
    * mentions (tag_counts, floor 1), day presence, group voting (primary's
    * group wins for its own tag, fixed non-crisis vocabulary, else the row's
    * is_crisis), and the W8 trailing streak ending at the target date,
    * sorted (active, duration desc, mentions-on-date desc, total desc, tag).
    *
    * The trailing streak is relational, not a walk: with distinct
    * day-offsets from the target sorted ascending, `sorted(i) == i` holds
    * exactly for the consecutive prefix, so the streak is the count of
    * prefix matches. Tags come from a fixed vocabulary, so the reference's
    * casefold-dedup-keep-first collapses to array_distinct with the primary
    * prepended. */
  def narrativeTimeline(
      narrativeDaily: DataFrame,
      targetDate: java.sql.Date,
      days: Int): DataFrame = {
    import graft.functions.NarrativeRules
    val d = ApiLimits.clampDays(days, ApiLimits.SeriesMaxDays)
    val start = java.sql.Date.valueOf(targetDate.toLocalDate.minusDays(d - 1L))
    val target = lit(targetDate)
    val nonCrisis = NarrativeRules.NonCrisisTags

    val exploded = narrativeDaily
      .filter(col("date").between(lit(start), target) && col("primary_tag").isNotNull)
      .withColumn("tag", explode(array_distinct(
        concat(array(col("primary_tag")), coalesce(col("tags"),
          array().cast("array<string>"))))))
      .withColumn("weight",
        greatest(coalesce(element_at(col("tag_counts"), col("tag")), lit(1L)), lit(1L)))
      .withColumn("vote",
        when(lower(col("tag")) === lower(col("primary_tag")) &&
          col("primary_group").isin("crisis", "non_crisis"), col("primary_group"))
          .when(col("tag").isin(nonCrisis: _*), "non_crisis")
          .when(col("is_crisis").isNotNull,
            when(col("is_crisis"), "crisis").otherwise("non_crisis")))

    val agg = exploded.groupBy(lower(col("tag")).as("__norm"))
      .agg(
        max(col("tag")).as("tag"),
        sum(col("weight")).as("mentions_total"),
        countDistinct(col("date")).as("days_present"),
        min(col("date")).as("first_seen_date"),
        max(col("date")).as("last_seen_date"),
        coalesce(sum(when(col("date") === target, col("weight"))), lit(0L))
          .as("mentions_on_date"),
        graft.operators.Rollups.countIf(col("vote") === "crisis").as("__cv"),
        graft.operators.Rollups.countIf(col("vote") === "non_crisis").as("__ncv"),
        sort_array(collect_set(datediff(target, col("date")))).as("__offs"))

    agg
      .withColumn("active_on_date", element_at(col("__offs"), 1) === 0)
      .withColumn("current_duration_days",
        aggregate(zip_with(col("__offs"),
          sequence(lit(0), size(col("__offs")) - 1),
          (o, i) => when(o === i, 1).otherwise(0)), lit(0), (acc, x) => acc + x))
      .withColumn("group",
        when(col("__cv") > col("__ncv"), "crisis")
          .when(col("__ncv") > 0, "non_crisis"))
      .withColumn("display_tag",
        when(col("group") === "non_crisis" || col("tag").isin(nonCrisis: _*),
          concat(col("tag"), lit(" (non-crisis)"))).otherwise(col("tag")))
      .withColumn("is_crisis", col("group") === "crisis")
      .withColumn("is_non_crisis", col("group") === "non_crisis")
      .withColumn("current_start_date",
        when(col("current_duration_days") > 0,
          date_sub(target, col("current_duration_days") - 1)))
      .withColumn("current_end_date",
        when(col("current_duration_days") > 0, target))
      .drop("__norm", "__cv", "__ncv", "__offs")
      .orderBy(when(col("active_on_date"), 0).otherwise(1),
        col("current_duration_days").desc, col("mentions_on_date").desc,
        col("mentions_total").desc, lower(col("tag")))
  }

  /** `GET /api/v1/narrative_tags` (`app.py:3454-3637`): one row per entity
    * for a single date — the modal primary tag (max by (count, tag)),
    * weight-sorted tag list with display variants, and crisis/non-crisis
    * presence flags. Handles multi-row inputs (the item-grain fallback
    * path) even though the crisis-event grain is one row per entity-day. */
  def narrativeTags(narrativeDaily: DataFrame, onDate: Column): DataFrame = {
    import graft.functions.NarrativeRules
    val nonCrisis = NarrativeRules.NonCrisisTags
    def display(tag: Column, group: Column): Column =
      when(group === "non_crisis" || tag.isin(nonCrisis: _*),
        concat(tag, lit(" (non-crisis)"))).otherwise(tag)

    val base = narrativeDaily
      .filter(col("date") === onDate && col("primary_tag").isNotNull &&
        trim(coalesce(col("entity_name"), lit(""))) =!= "")

    // modal primary: count per (tag, group), Python max by (count, tag)
    val pw = Window.partitionBy("entity_name")
      .orderBy(col("__cnt").desc, col("primary_tag").desc)
    val primary = base.groupBy("entity_name", "primary_tag", "primary_group")
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__rn", row_number().over(pw))
      .filter(col("__rn") === 1)
      .select(col("entity_name"), col("primary_tag"), col("primary_group"),
        display(col("primary_tag"), col("primary_group")).as("primary_display_tag"))

    // row-level crisis/non-crisis votes
    val flags = base.groupBy("entity_name").agg(
      coalesce(max(when(col("primary_group") === "crisis" ||
        col("is_crisis") === true, true)), lit(false)).as("__hc"),
      coalesce(max(when(col("primary_group") === "non_crisis" ||
        col("is_crisis") === false, true)), lit(false)).as("__hnc"))

    // weight-summed tags, ordered (-weight, tag); array_sort on
    // (negated weight, tag) structs gives the reference's sort
    val tags = base
      .withColumn("tag", explode(coalesce(col("tags"), array().cast("array<string>"))))
      .filter(trim(col("tag")) =!= "")
      .withColumn("w",
        greatest(coalesce(element_at(col("tag_counts"), col("tag")), lit(1L)), lit(1L)))
      .groupBy("entity_name", "tag").agg(sum(col("w")).as("w"))
      .groupBy("entity_name").agg(
        transform(array_sort(collect_list(struct((-col("w")).as("nw"), col("tag")))),
          x => x.getField("tag")).as("tags"),
        coalesce(max(col("tag").isin(nonCrisis: _*)), lit(false)).as("__tag_nc"))
      .withColumn("display_tags",
        transform(col("tags"), t => display(t, lit(null: String))))

    primary.join(flags, Seq("entity_name"), "left")
      .join(tags, Seq("entity_name"), "left")
      .withColumn("has_crisis", coalesce(col("__hc"), lit(false)))
      .withColumn("has_non_crisis",
        coalesce(col("__hnc"), lit(false)) || coalesce(col("__tag_nc"), lit(false)))
      .withColumn("tags", coalesce(col("tags"), array().cast("array<string>")))
      .withColumn("display_tags",
        coalesce(col("display_tags"), array().cast("array<string>")))
      .drop("__hc", "__hnc", "__tag_nc")
      .orderBy("entity_name")
  }

  /** `GET /api/v1/serp_feature_items` (`app.py:3353-3454`): one entity-day's
    * feature items ordered `feature_type, position nulls last, sentiment`,
    * paginated with the 500-item cap. */
  def serpFeatureItems(
      items: DataFrame,
      onDate: Column,
      entityType: String,
      entityId: Column,
      limit: Int = 200,
      offset: Int = 0): DataFrame =
    graft.operators.Windows.paginate(
      items.filter(entityTypeFilter(col("entity_type"), entityType) &&
        col("date") === onDate && col("entity_id") === entityId),
      Seq(col("feature_type"), col("position").asc_nulls_last, col("sentiment_label")),
      ApiLimits.clampOffset(offset),
      ApiLimits.clampLimit(limit, ApiLimits.FeatureItemsMaxLimit))
}
