package graft.api

import graft.functions.NarrativeRules
import graft.operators.Rollups.countIf
import graft.operators.Windows
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-entity insights readers (reference `dashboard_app/app.py`
  * §insights): sector baseline with peer ranking, and the two
  * narrative-duration aggregations (`aggregate_crisis_patterns`,
  * `aggregate_industry_durations`). The reference computes these in Python
  * dict/loop passes over fetched rows; here each pass is a distributed
  * aggregation — gaps-and-islands episodes ([[Windows.episodes]]) replace
  * `consecutive_day_durations`, exact `percentile(0.5)` replaces
  * `statistics.median`, and top-k-within-group windows replace the sorted
  * dict slices. `bround` (half-even) mirrors Python's banker's `round`.
  */
object Insights {

  // ------------------------------------------------------ window resolution

  /** Resolved insights window (`resolve_insights_window`,
    * `app.py:1911-1966`). */
  final case class InsightsWindow(
      start: java.time.LocalDate,
      end: java.time.LocalDate,
      latestAvailable: java.time.LocalDate,
      days: Int,
      windowMode: String,
      requestedStart: Option[String],
      requestedEnd: Option[String])

  /** `resolve_insights_window`: explicit calendar window (validated, end
    * clamped to the latest available narrative date) or the rolling
    * `days`-clamped default anchored at that date. Errors mirror the
    * reference's LookupError('no_data') / ValueError(message) as Left. */
  def resolveInsightsWindow(
      latestAvailableDate: Option[java.time.LocalDate],
      startDateParam: Option[String] = None,
      endDateParam: Option[String] = None,
      daysParam: Option[String] = None,
      defaultDays: Int = 90,
      minDays: Int = 1,
      maxDays: Int = 365): Either[String, InsightsWindow] = {
    val latest = latestAvailableDate match {
      case Some(d) => d
      case None => return Left("no_data")
    }
    val startStr = startDateParam.map(_.trim).filter(_.nonEmpty)
    val endStr = endDateParam.map(_.trim).filter(_.nonEmpty)
    if (startStr.nonEmpty || endStr.nonEmpty) {
      if (startStr.isEmpty || endStr.isEmpty)
        return Left("start_date and end_date are both required when using an explicit calendar window")
      val (s, e) =
        try (java.time.LocalDate.parse(startStr.get), java.time.LocalDate.parse(endStr.get))
        catch { case _: java.time.format.DateTimeParseException =>
          return Left("invalid date format (YYYY-MM-DD)") }
      if (s.isAfter(e)) return Left("start_date must be on or before end_date")
      if (s.isAfter(latest)) return Left("no_data")
      val actualEnd = if (e.isBefore(latest)) e else latest
      if (s.isAfter(actualEnd)) return Left("no_data")
      Right(InsightsWindow(s, actualEnd, latest,
        java.time.temporal.ChronoUnit.DAYS.between(s, actualEnd).toInt + 1,
        "calendar", Some(s.toString), Some(e.toString)))
    } else {
      val days0 = daysParam.flatMap(_.trim.toIntOption).getOrElse(defaultDays)
      val days = math.min(math.max(days0, minDays), maxDays)
      Right(InsightsWindow(latest.minusDays(days - 1L), latest, latest, days,
        "rolling", None, None))
    }
  }

  /** `narrative_group_for_tag`'s endpoint-inline variant (`app.py:4700-4709`):
    * trust a well-formed group, else the fixed non-crisis vocabulary, else
    * the row's is_crisis flag, else whatever the row carried. */
  private def normalizedGroup: Column = {
    val g = lower(trim(coalesce(col("narrative_primary_group"), lit(""))))
    val tag = trim(coalesce(col("narrative_primary_tag"), lit("")))
    when(g.isin("crisis", "non_crisis"), g)
      .when(tag.isin(NarrativeRules.NonCrisisTags: _*), "non_crisis")
      .when(col("narrative_is_crisis") === true, "crisis")
      .when(col("narrative_is_crisis") === false, "non_crisis")
      .otherwise(g)
  }

  /** `narrative_display_tag` (`app.py:264-271`). */
  private def displayTag(tag: Column, grp: Column): Column =
    when(grp === "non_crisis" || tag.isin(NarrativeRules.NonCrisisTags: _*),
      concat(tag, lit(" (non-crisis)"))).otherwise(tag)

  private def prepare(narrativeRows: DataFrame, includeNonCrisis: Boolean): DataFrame =
    narrativeRows
      .withColumn("__tag", trim(coalesce(col("narrative_primary_tag"), lit(""))))
      .filter(col("__tag") =!= "")
      .withColumn("__grp", normalizedGroup)
      .filter(if (includeNonCrisis) lit(true) else col("__grp") =!= "non_crisis")
      .withColumn("__tag_key", lower(col("__tag")))
      .withColumn("__neg", coalesce(col("negative_item_count").cast("long"), lit(0L)))

  // ------------------------------------------- aggregate_crisis_patterns

  /** `GET /api/v1/insights/aggregate_crisis_patterns` (`app.py:4666-4794`):
    * per (tag, group) pattern — entities affected, consecutive-day episode
    * stats, latest-day actives, negative totals, and the top-3 sample
    * entities. `endDate` must be the resolved window end (actives are
    * counted on it). */
  def aggregateCrisisPatterns(
      narrativeRows: DataFrame,
      endDate: Column,
      analyticsType: String = "brand",
      includeNonCrisis: Boolean = false,
      limit: Int = 10): DataFrame = {
    // three aggregation branches read `base` — Spark shares no subplans, so
    // without a persist the narrative-row subtree is recomputed per branch.
    // Tracked in the Caching registry (FIFO-bounded): Spark's CacheManager
    // keeps entries alive until unpersisted, so untracked library-internal
    // persists would accumulate one per distinct input plan forever.
    val base = graft.Caching.track(prepare(narrativeRows, includeNonCrisis))
    val key = Seq("__tag_key", "__grp")

    // per-pattern episode durations over each entity's distinct day set
    val entityDays = base.select((key :+ "entity_id" :+ "date").map(col): _*).distinct()
    val episodes = Windows.episodes(entityDays, key :+ "entity_id", "date")
    val durations = episodes.groupBy(key.map(col): _*)
      .agg(
        count(lit(1)).as("episode_count"),
        bround(avg(col("episode_days")), 2).as("avg_duration_days"),
        percentile(col("episode_days"), lit(0.5)).as("median_duration_days"),
        max(col("episode_days")).as("max_duration_days"))

    // per-pattern row-grain aggregates (totals count every row, not days)
    val rowAggs = base.groupBy(key.map(col): _*)
      .agg(
        max(col("__tag")).as("tag"),
        countDistinct(col("entity_id")).as("entities_affected"),
        countDistinct(when(col("date") === endDate, col("entity_id")))
          .as("active_entities_latest"),
        sum(col("__neg")).as("total_negative_items"))

    // top-3 sample entities by (negative total desc, name casefold)
    val perEntity = base.groupBy((key :+ "entity_id").map(col): _*)
      .agg(sum(col("__neg")).as("__etotal"), max(col("entity_name")).as("__ename"))
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col("__etotal").desc, lower(col("__ename")))
    val samples = perEntity.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= 3)
      .groupBy(key.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("__r"), col("__ename")))),
        s => s.getField("__ename")).as("sample_entities"))

    val affectedCol =
      if (analyticsType == "brand") "brands_affected" else "ceos_affected"
    rowAggs
      .join(durations, key)
      .join(samples, key)
      .select(
        col("tag"),
        displayTag(col("tag"), col("__grp")).as("display_tag"),
        when(col("__grp") === "", lit(null).cast("string"))
          .otherwise(col("__grp")).as("group"),
        (col("__grp") === "crisis").as("is_crisis"),
        lit(analyticsType).as("entity_type"),
        col("entities_affected").as(affectedCol),
        col("episode_count"), col("avg_duration_days"),
        col("median_duration_days"), col("max_duration_days"),
        col("active_entities_latest"), col("total_negative_items"),
        col("sample_entities"))
      .orderBy(col(affectedCol).desc, col("episode_count").desc,
        col("total_negative_items").desc, lower(col("tag")))
      .limit(math.min(math.max(limit, 1), 50))
  }

  // ---------------------------------------- aggregate_industry_durations

  /** `GET /api/v1/insights/aggregate_industry_durations`
    * (`app.py:4857-4976`): the same duration machinery keyed by sector —
    * episodes run per (sector, entity, tag-pattern), then roll up to the
    * sector with its top-3 tags by negative totals. */
  def aggregateIndustryDurations(
      narrativeRows: DataFrame,
      endDate: Column,
      analyticsType: String = "brand",
      includeNonCrisis: Boolean = false,
      limit: Int = 25): DataFrame = {
    // three branches below read `base`; tracked in the bounded cache
    // registry (see aggregateCrisisPatterns)
    val base = graft.Caching.track(prepare(narrativeRows, includeNonCrisis)
      .withColumn("__sector",
        when(trim(coalesce(col("sector"), lit(""))) === "", "Unspecified")
          .otherwise(trim(col("sector"))))
      .withColumn("__pattern", concat(col("__tag_key"), lit("::"), col("__grp"))))

    val entityTagDays = base
      .select(col("__sector"), col("entity_id"), col("__pattern"), col("date")).distinct()
    val episodes = Windows.episodes(entityTagDays,
      Seq("__sector", "entity_id", "__pattern"), "date")
    val durations = episodes.groupBy(col("__sector"))
      .agg(
        count(lit(1)).as("episode_count"),
        bround(avg(col("episode_days")), 2).as("avg_duration_days"),
        percentile(col("episode_days"), lit(0.5)).as("median_duration_days"),
        max(col("episode_days")).as("max_duration_days"))

    val rowAggs = base.groupBy(col("__sector"))
      .agg(
        countDistinct(col("entity_id")).as("entities_affected"),
        countDistinct(when(col("date") === endDate, col("entity_id")))
          .as("active_entities_latest"),
        sum(col("__neg")).as("total_negative_items"))

    // top-3 tags by (negative total desc, pattern key asc), shown as
    // display tags
    val perTag = base.groupBy(col("__sector"), col("__pattern"))
      .agg(sum(col("__neg")).as("__ttotal"), max(col("__tag")).as("__t"),
        max(col("__grp")).as("__g"))
    val w = Window.partitionBy(col("__sector"))
      .orderBy(col("__ttotal").desc, col("__pattern"))
    val topTags = perTag.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= 3)
      .groupBy(col("__sector"))
      .agg(transform(array_sort(collect_list(struct(col("__r"),
        displayTag(col("__t"), col("__g")).as("__d")))),
        s => s.getField("__d")).as("most_common_tags"))

    val affectedCol =
      if (analyticsType == "brand") "brands_affected" else "ceos_affected"
    rowAggs
      .join(durations, Seq("__sector"))
      .join(topTags, Seq("__sector"))
      .select(
        col("__sector").as("sector"),
        lit(analyticsType).as("entity_type"),
        col("entities_affected").as(affectedCol),
        col("episode_count"), col("avg_duration_days"),
        col("median_duration_days"), col("max_duration_days"),
        col("active_entities_latest"), col("total_negative_items"),
        col("most_common_tags"))
      .orderBy(col("avg_duration_days").desc, col("episode_count").desc,
        col(affectedCol).desc, lower(col("sector")))
      .limit(math.min(math.max(limit, 1), 100))
  }

  // ------------------------------------------------------ sector_baseline

  /** `GET /api/v1/insights/sector_baseline` rows (`app.py:4541-4569`):
    * exact-sector peers aggregated over the trailing window anchored at the
    * sector's own latest metric date (resolved lazily — no driver probe). */
  def sectorBaselineRows(
      entityDailyMetrics: DataFrame,
      companies: DataFrame,
      entityType: String,
      sector: String,
      metric: String,
      days: Int = 30,
      scopeCompanyIds: Option[Seq[String]] = None): DataFrame = {
    val analyticsType = if (entityType == "company") "brand" else entityType
    val m = col(metric)
    val joined = entityDailyMetrics
      .filter(col("entity_type") === analyticsType)
      .join(broadcast(companies.select(col("id").as("company_id"),
        col("sector").as("__sector"))), Seq("company_id"))
      .filter(col("__sector") === sector)
    val scoped = scopeCompanyIds match {
      case Some(ids) => joined.filter(col("company_id").isin(ids: _*))
      case None => joined
    }
    val clampedDays = math.min(math.max(days, 1), 180)
    // window end = the sector's latest available date (app.py:4523-4536),
    // attached lazily as a broadcast 1-row crossJoin
    val end = scoped.agg(max(col("date")).as("__end"))
    scoped.crossJoin(broadcast(end))
      .filter(col("date").between(date_sub(col("__end"), clampedDays - 1), col("__end")))
      .groupBy(col("entity_type"), col("entity_id"), col("company_id"), col("ceo_id"))
      .agg(
        max(col("entity_name")).as("entity_name"),
        max(col("company")).as("company"),
        max(col("ceo")).as("ceo"),
        max(coalesce(col("__sector"), lit(""))).as("sector"),
        sum(m).cast("double").as("window_value"),
        avg(m).as("avg_daily_value"),
        max(when(col("date") === col("__end"), m)).cast("double").as("latest_value"),
        max(m).cast("double").as("peak_value"),
        countIf(m > 0).as("signal_days"))
      // Postgres `order by latest_value desc` is NULLS FIRST — entities with
      // no row on the window end sort above equal-window peers, faithfully
      .orderBy(col("window_value").desc,
        col("latest_value").desc_nulls_first, col("entity_name"))
  }

  /** Sector summary stats over [[sectorBaselineRows]] (`app.py:4592-4595`):
    * one row of (avg, median, active count) across the peer set. */
  def sectorBaselineSummary(rows: DataFrame): DataFrame =
    rows.agg(
      bround(avg(coalesce(col("window_value"), lit(0.0))), 4).as("avg_window_value"),
      bround(percentile(coalesce(col("window_value"), lit(0.0)), lit(0.5)), 4)
        .as("median_window_value"),
      countIf(coalesce(col("window_value"), lit(0.0)) > 0).as("active_entity_count"))

  /** Peer rank within [[sectorBaselineRows]] (`app.py:4612-4632`): the
    * requested entity's 1-based rank in list order, its percentile among
    * peers, and deltas vs the sector avg/median. The global-order window is
    * safe here: the peer set is one sector's entities. */
  def sectorBaselinePeer(rows: DataFrame, entityId: String): DataFrame = {
    val w = Window.partitionBy(lit(0)).orderBy(
      col("window_value").desc, col("latest_value").desc_nulls_first, col("entity_name"))
    val ranked = rows.withColumn("rank", row_number().over(w))
    // the reference subtracts the ALREADY-4dp-rounded summary values
    // (app.py:4629-4631 reads avg_window_value/median_window_value), so
    // round before the delta — unrounded aggregates can diverge by 5e-5
    val stats = rows.agg(
      count(lit(1)).as("__peer_count"),
      bround(avg(coalesce(col("window_value"), lit(0.0))), 4).as("__avg"),
      bround(percentile(coalesce(col("window_value"), lit(0.0)), lit(0.5)), 4)
        .as("__median"))
    ranked.filter(col("entity_id") === entityId)
      .crossJoin(broadcast(stats))
      .select(
        col("*"),
        when(col("__peer_count") > 1,
          bround(lit(100.0) * (col("__peer_count") - col("rank")) /
            (col("__peer_count") - 1), 1)).otherwise(lit(100.0)).as("percentile"),
        bround(coalesce(col("window_value"), lit(0.0)) - col("__avg"), 4)
          .as("vs_sector_avg"),
        bround(coalesce(col("window_value"), lit(0.0)) - col("__median"), 4)
          .as("vs_sector_median"))
      .withColumnRenamed("__peer_count", "peer_count")
      .drop("__avg", "__median")
  }
}
