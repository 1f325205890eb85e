package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SERP-feature tab readers (reference `dashboard_app/app.py:3105-3352`):
  * `GET /api/v1/serp_features` and `GET /api/v1/serp_feature_controls`, each
  * with an entity mode (per-entity rows from the daily MV) and an "index"
  * mode (re-aggregated across entities from the index MV). All filters are
  * pushdown-able predicates over the date-partitioned gold tables; the only
  * join is the broadcast ceo→company hop when a company scope must gate ceo
  * rows. Both modes return their answer as one sorted partition
  * ([[Api.answer]]).
  */
object SerpFeatures {

  /** Company-scope gate (P4): company entities filter `entity_id` directly;
    * ceo entities hop through the ceos dim (`join ceos ceo on ceo.id =
    * s.entity_id join companies c on c.id = ceo.company_id`,
    * `app.py:3216-3218`) as a broadcast semi-join. */
  private def scoped(
      df: DataFrame,
      entityType: String,
      scopeCompanyIds: Option[Seq[String]],
      ceos: Option[DataFrame]): DataFrame = scopeCompanyIds match {
    case Some(ids) if entityType == "ceo" =>
      val dim = ceos.getOrElse(
        throw new IllegalArgumentException("ceos dim required for ceo scope"))
      df.join(
        broadcast(dim.filter(col("company_id").isin(ids: _*))
          .select(col("id").as("__scope_ceo_id"))),
        col("entity_id") === col("__scope_ceo_id"), "left_semi")
    case Some(ids) => df.filter(col("entity_id").isin(ids: _*))
    case None => df
  }

  private def dateWindow(
      df: DataFrame, onDate: Option[String], days: Int, asOf: Column): DataFrame =
    onDate match {
      case Some(d) => df.filter(col("date") === to_date(lit(d)))
      case None => df.filter(
        col("date") >= date_sub(asOf, ApiLimits.clampDays(days, ApiLimits.SeriesMaxDays)) &&
          col("date") <= asOf)
    }

  private def entityRead(
      dailyMv: DataFrame,
      countCols: Seq[String],
      entityType: String,
      days: Int,
      onDate: Option[String],
      entityName: Option[String],
      featureType: Option[String],
      scopeCompanyIds: Option[Seq[String]],
      ceos: Option[DataFrame],
      asOf: Column): DataFrame = {
    val base = dateWindow(
      dailyMv.filter(Api.entityTypeFilter(col("entity_type"), entityType)),
      onDate, days, asOf)
    val rows = scoped(base, entityType, scopeCompanyIds, ceos)
      .filter(entityName.map(col("entity_name") === _).getOrElse(lit(true)))
      .filter(featureType.map(col("feature_type") === _).getOrElse(lit(true)))
      .select((Seq("date", "entity_name", "feature_type") ++ countCols).map(col): _*)
    Api.answer(rows, col("date"), col("feature_type"))
  }

  private def indexRead(
      indexMv: DataFrame,
      countCols: Seq[String],
      entityType: String,
      days: Int,
      onDate: Option[String],
      asOf: Column): DataFrame =
    Api.answer(dateWindow(indexMv.filter(Api.entityTypeFilter(col("entity_type"), entityType)),
      onDate, days, asOf)
      .groupBy(col("date"), col("feature_type"))
      .agg(sum(col(countCols.head)).as(countCols.head),
        countCols.tail.map(c => sum(col(c)).as(c)): _*)
      .select((Seq(col("date"), lit("Index").as("entity_name"), col("feature_type")) ++
        countCols.map(col)): _*),
      col("date"), col("feature_type"))

  private val featureCounts =
    Seq("total_count", "positive_count", "neutral_count", "negative_count")

  /** `GET /api/v1/serp_features` (`app.py:3105-3239`), entity mode: rows
    * from `serp_feature_daily_mv` at (date, entity, feature_type) grain. */
  def serpFeatures(
      serpFeatureDailyMv: DataFrame,
      entityType: String,
      days: Int = 90,
      onDate: Option[String] = None,
      entityName: Option[String] = None,
      featureType: Option[String] = None,
      scopeCompanyIds: Option[Seq[String]] = None,
      ceos: Option[DataFrame] = None,
      asOf: Column = current_date()): DataFrame =
    entityRead(serpFeatureDailyMv, featureCounts, entityType, days, onDate,
      entityName, featureType, scopeCompanyIds, ceos, asOf)

  /** `serp_features?mode=index` (`app.py:3122-3137`): sum the index MV
    * across compatible entity types into one 'Index' pseudo-entity. */
  def serpFeaturesIndex(
      serpFeatureDailyIndexMv: DataFrame,
      entityType: String,
      days: Int = 90,
      onDate: Option[String] = None,
      asOf: Column = current_date()): DataFrame =
    indexRead(serpFeatureDailyIndexMv, featureCounts, entityType, days, onDate, asOf)
}
