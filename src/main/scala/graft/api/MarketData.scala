package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Chart-feed + dim readers: `GET /api/v1/stock_data`
  * (`dashboard_app/app.py:6742-6840,5107-5136`), `GET /api/dates`
  * (`app.py:2737-2752`) and `GET /api/v1/boards` (`app.py:5083-5105`).
  *
  * The reference's Python assembles per-company history arrays in a dict
  * pass; here the 120-day history is a sort_array(collect_list) aggregation
  * joined (broadcast — the snapshot side is one row per tracked company) to
  * the snapshot rows. The ''fall back to the latest snapshot date <= target''
  * probe is a lazy 1-row crossJoin, not a driver query.
  */
object MarketData {

  private def scopeByCompany(
      df: DataFrame, companies: DataFrame,
      scopeCompanyIds: Option[Seq[String]]): DataFrame = scopeCompanyIds match {
    // reference: company in (select name from companies where id = any(%s))
    case Some(ids) => df.join(
      broadcast(companies.filter(col("id").isin(ids: _*))
        .select(col("name").as("__scope_name"))),
      col("company") === col("__scope_name"), "left_semi")
    case None => df
  }

  /** `build_stock_rows` (`app.py:6742-6840`): snapshots on the effective
    * date (= target if present, else latest <= target), with the trailing
    * 120-day price/date history arrays and history-derived change
    * percentages when the snapshot omits them. */
  def stockData(
      stockSnapshots: DataFrame,
      stockPricesDaily: DataFrame,
      companies: DataFrame,
      target: Column,
      scopeCompanyIds: Option[Seq[String]] = None): DataFrame = {
    val snaps = scopeByCompany(stockSnapshots, companies, scopeCompanyIds)
    val hist = scopeByCompany(stockPricesDaily, companies, scopeCompanyIds)

    // effective date: max(as_of_date) among snapshots <= target — equals
    // target exactly when a snapshot exists on it (the reference's two-step
    // fallback collapses to this single aggregate)
    val eff = snaps.filter(col("as_of_date") <= target)
      .agg(max(col("as_of_date")).as("__eff"))

    val series = hist
      .crossJoin(broadcast(eff))
      .filter(col("date").between(date_sub(col("__eff"), 120), col("__eff")))
      .withColumn("__key", coalesce(col("ticker"), col("company")))
      .groupBy(col("__key"))
      .agg(array_sort(collect_list(struct(col("date"), col("price")))).as("__s"))
      .select(col("__key"),
        transform(col("__s"), s => s.getField("price")).as("price_history"),
        transform(col("__s"), s => s.getField("date").cast("string")).as("date_history"))

    snaps.crossJoin(broadcast(eff))
      .filter(col("as_of_date") === col("__eff"))
      .withColumn("__key", coalesce(col("ticker"), col("company")))
      .join(series, Seq("__key"), "left")
      .withColumn("price_history",
        coalesce(col("price_history"), array().cast("array<double>")))
      .withColumn("date_history",
        coalesce(col("date_history"), array().cast("array<string>")))
      // history fallbacks (`app.py:6815-6826`): last vs previous close, and
      // last vs 8th-from-last, guarded on series length and nonzero base
      .withColumn("daily_change_pct", coalesce(col("daily_change_pct"),
        when(size(col("price_history")) >= 2 &&
          element_at(col("price_history"), -2) =!= 0.0,
          (element_at(col("price_history"), -1) - element_at(col("price_history"), -2)) /
            element_at(col("price_history"), -2) * 100.0)))
      .withColumn("seven_day_change_pct", coalesce(col("seven_day_change_pct"),
        when(size(col("price_history")) >= 8 &&
          element_at(col("price_history"), -8) =!= 0.0,
          (element_at(col("price_history"), -1) - element_at(col("price_history"), -8)) /
            element_at(col("price_history"), -8) * 100.0)))
      .select(col("ticker"), col("company"), col("opening_price"),
        col("daily_change_pct"), col("seven_day_change_pct"),
        col("price_history"), col("date_history"),
        coalesce(col("last_updated").cast("string"), lit("")).as("last_updated"))
      .orderBy(col("ticker"))
  }

  /** `GET /api/dates` (`app.py:2737-2752`): distinct mention dates,
    * newest first, scope-gated. */
  def availableDates(
      companyMentionsDaily: DataFrame,
      scopeCompanyIds: Option[Seq[String]] = None): DataFrame = {
    val scoped = scopeCompanyIds match {
      case Some(ids) => companyMentionsDaily.filter(col("company_id").isin(ids: _*))
      case None => companyMentionsDaily
    }
    scoped.filter(col("date").isNotNull)
      .select(col("date")).distinct()
      .orderBy(col("date").desc)
  }

  /** `POST /api/internal/favorites` (`app.py:6220-6267`), company flavor:
    * flip the favorite flag on the company dim row matched by name. */
  def setCompanyFavorite(
      companies: DataFrame, name: String, favorite: Boolean): DataFrame =
    companies.withColumn("favorite",
      when(col("name") === name, lit(favorite)).otherwise(col("favorite")))

  /** ceo flavor — optionally disambiguated by company name (`update ceos
    * ... where name = %s and company_id = (select id from companies where
    * name = %s)`). */
  def setCeoFavorite(
      ceos: DataFrame, companies: DataFrame, name: String,
      company: Option[String], favorite: Boolean): DataFrame = company match {
    case Some(c) =>
      ceos.join(broadcast(companies.filter(col("name") === c)
        .select(col("id").as("__fav_cid"))),
        col("company_id") === col("__fav_cid"), "left")
        .withColumn("favorite",
          when(col("name") === name && col("__fav_cid").isNotNull, lit(favorite))
            .otherwise(col("favorite")))
        .drop("__fav_cid")
    case None =>
      ceos.withColumn("favorite",
        when(col("name") === name, lit(favorite)).otherwise(col("favorite")))
  }

  /** `GET /api/v1/roster` / `roster.csv` (`app.py:6676-6689,4211-4222`):
    * company × ceo left join with ''-coalesced optionals, ordered
    * (company, ceo). */
  def roster(companies: DataFrame, ceos: DataFrame): DataFrame =
    companies
      .join(broadcast(ceos.select(col("company_id").as("__cid"),
        col("name").as("__ceo_name"), col("alias"), col("favorite").as("__ceo_fav"))),
        col("id") === col("__cid"), "left")
      .select(
        col("__ceo_name").as("ceo"), col("name").as("company"),
        coalesce(col("alias"), lit("")).as("ceo_alias"),
        coalesce(col("websites"), lit("")).as("websites"),
        coalesce(col("ticker"), lit("")).as("stock"),
        coalesce(col("sector"), lit("")).as("sector"),
        coalesce(col("favorite"), lit(false)).as("company_favorite"),
        coalesce(col("__ceo_fav"), lit(false)).as("ceo_favorite"))
      .orderBy(col("company"), col("ceo"))

  /** `GET /api/v1/boards` (`app.py:5083-5105`): board rows resolved through
    * ceo → company, ordered (ceo, domain). */
  def boards(
      boardsDim: DataFrame,
      ceos: DataFrame,
      companies: DataFrame,
      scopeCompanyIds: Option[Seq[String]] = None): DataFrame = {
    val scopedCompanies = scopeCompanyIds match {
      case Some(ids) => companies.filter(col("id").isin(ids: _*))
      case None => companies
    }
    boardsDim
      .join(broadcast(ceos.select(col("id").as("__ceo_id"),
        col("name").as("ceo"), col("company_id").as("__cid"))),
        col("ceo_id") === col("__ceo_id"))
      .join(broadcast(scopedCompanies.select(col("id").as("__c_id"),
        col("name").as("company"))), col("__cid") === col("__c_id"))
      .select(col("ceo"), col("company"), col("url"), col("domain"),
        col("source"), col("last_updated"))
      .orderBy(col("ceo"), col("domain"))
  }
}
