package graft.gold

import graft.operators.Rollups.countIf
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's seven materialized views as DataFrame builders
  * (the reference's seven `_mv.sql` files under `sql/`). In the target
  * deployment these are batch-computed gold
  * tables written to date-partitioned parquet and refreshed incrementally by
  * date partition (the reference refreshes whole MVs inside an advisory
  * lock, `dashboard_app/app.py:7059-7182` — partition overwrite replaces
  * that wholesale).
  *
  * Scale notes: dims, article titles and override tables (human-entered,
  * tiny) are broadcast. Each builder then runs ONE hash aggregate, so its
  * fact rows shuffle once, on the output group key:
  *  - `articleDailyCounts` and `serpDailyCounts` project the brand and CEO
  *    branches onto the output key columns, union the rows and aggregate
  *    once: one exchange per table, not one per branch;
  *  - `negativeSummary` unions the two branches at mention grain and
  *    aggregates once;
  *  - the four serp-feature builders each aggregate the shared
  *    [[featureItemsEffective]] projection at their grain.
  * The fact-to-fact joins (runs × results in `serpDailyCounts`, daily
  * mentions × mentions in `negativeSummary`) are left to the planner: a
  * broadcast when one side is small, else a shuffle join before the
  * aggregate.
  * neg_pct keeps the reference's asymmetric rounding per row (brand 6dp /
  * ceo 1dp, `sql/article_daily_counts_mv.sql:16,37`) through decimal
  * division — double division would drift at the 6th decimal under
  * reordering.
  */
object GoldTables {

  /** sentiment histogram columns over an effective-label column */
  private def sentimentPivot(eff: Column): Seq[Column] = Seq(
    countIf(eff === "positive").as("positive"),
    countIf(eff === "neutral").as("neutral"),
    countIf(eff === "negative").as("negative"),
    count(lit(1)).as("total"))

  /** Output key of the two brand + ceo tables (`articleDailyCounts` adds
    * `alias`): both branches are projected onto it before the one
    * aggregate. */
  private val EntityDayKey: Seq[String] = Seq("date", "entity_type", "entity_id",
    "company_id", "ceo_id", "entity_name", "company", "ceo")

  private def negPct(scale: Int): Column =
    when(col("total") > 0,
      round(col("negative").cast("decimal(28,12)") / col("total"), scale))
      .otherwise(lit(0)).cast("decimal(38,6)")

  /** `article_daily_counts_mv` (`sql/article_daily_counts_mv.sql:1-46`):
    * brand + ceo union of daily sentiment histograms with override coalesce
    * (articles have NO llm fallback for sentiment). */
  def articleDailyCounts(
      companyMentionsDaily: DataFrame,
      ceoMentionsDaily: DataFrame,
      companies: DataFrame,
      ceos: DataFrame,
      companyOverrides: DataFrame,
      ceoOverrides: DataFrame): DataFrame = {
    val eff = coalesce(col("override_sentiment_label"), col("sentiment_label")).as("eff")
    val brand = companyMentionsDaily
      .join(broadcast(companies.select(col("id"), col("name"))),
        col("company_id") === col("id"))
      .join(broadcast(companyOverrides
        .select(col("company_id").as("ov_company_id"), col("article_id").as("ov_article_id"),
          col("override_sentiment_label"))),
        col("company_id") === col("ov_company_id") &&
          col("article_id") === col("ov_article_id"), "left")
      .select(col("date"), lit("brand").as("entity_type"), col("id").as("entity_id"),
        col("id").as("company_id"), lit(null: String).as("ceo_id"),
        col("name").as("entity_name"), col("name").as("company"),
        lit("").as("ceo"), lit("").as("alias"), eff)

    val ceo = ceoMentionsDaily
      .join(broadcast(ceos.select(col("id"), col("name").as("ceo_name"),
        col("company_id").as("ceo_company_id"), col("alias"))),
        col("ceo_id") === col("id"))
      .join(broadcast(companies.select(col("id").as("cid"), col("name").as("company_name"))),
        col("ceo_company_id") === col("cid"))
      .join(broadcast(ceoOverrides
        .select(col("ceo_id").as("ov_ceo_id"), col("article_id").as("ov_article_id"),
          col("override_sentiment_label"))),
        col("ceo_id") === col("ov_ceo_id") &&
          col("article_id") === col("ov_article_id"), "left")
      .select(col("date"), lit("ceo").as("entity_type"), col("id").as("entity_id"),
        col("cid").as("company_id"), col("id").as("ceo_id"),
        col("ceo_name").as("entity_name"), col("company_name").as("company"),
        col("ceo_name").as("ceo"), coalesce(col("alias"), lit("")).as("alias"), eff)

    val pivots = sentimentPivot(col("eff"))
    brand.unionByName(ceo)
      .groupBy((EntityDayKey :+ "alias").map(col): _*)
      .agg(pivots.head, pivots.tail: _*)
      .withColumn("neg_pct",
        when(col("entity_type") === "brand", negPct(6)).otherwise(negPct(1)))
  }

  /** `serp_daily_counts_mv` (`sql/serp_daily_counts_mv.sql:1-46`): runs ×
    * results with the 3-level control/sentiment coalesce (override > llm >
    * raw), brand + ceo branches. */
  def serpDailyCounts(
      serpRuns: DataFrame,
      serpResults: DataFrame,
      serpResultOverrides: DataFrame,
      companies: DataFrame,
      ceos: DataFrame): DataFrame = {
    val effControl = coalesce(col("override_control_class"), col("llm_control_class"),
      col("control_class")).as("eff_control")
    val effSent = coalesce(col("override_sentiment_label"), col("llm_sentiment_label"),
      col("sentiment_label")).as("eff_sentiment")

    val joined = serpRuns
      .join(serpResults.withColumnRenamed("id", "result_id"),
        col("serp_run_id") === col("id"))
      .join(broadcast(serpResultOverrides
        .select(col("serp_result_id"), col("override_sentiment_label"),
          col("override_control_class"))),
        col("result_id") === col("serp_result_id"), "left")

    val brand = joined.filter(col("entity_type") === "company")
      .join(broadcast(companies.select(col("id").as("cid"), col("name"))),
        col("company_id") === col("cid"))
      .select(to_date(col("run_at")).as("date"), lit("brand").as("entity_type"),
        col("cid").as("entity_id"), col("cid").as("company_id"), lit(null: String).as("ceo_id"),
        col("name").as("entity_name"), col("name").as("company"), lit("").as("ceo"),
        effControl, effSent)

    val ceo = joined.filter(col("entity_type") === "ceo")
      .join(broadcast(ceos.select(col("id").as("ceoid"), col("name").as("ceo_name"),
        col("company_id").as("ceo_company_id"))),
        col("ceo_id") === col("ceoid"))
      .join(broadcast(companies.select(col("id").as("cid"), col("name").as("company_name"))),
        col("ceo_company_id") === col("cid"))
      .select(to_date(col("run_at")).as("date"), lit("ceo").as("entity_type"),
        col("ceoid").as("entity_id"), col("cid").as("company_id"), col("ceoid").as("ceo_id"),
        col("ceo_name").as("entity_name"), col("company_name").as("company"),
        col("ceo_name").as("ceo"), effControl, effSent)

    brand.unionByName(ceo)
      .groupBy(EntityDayKey.map(col): _*)
      .agg(
        count(lit(1)).as("total"),
        countIf(col("eff_control") === "controlled").as("controlled"),
        countIf(col("eff_sentiment") === "negative").as("negative_serp"),
        countIf(col("eff_sentiment") === "neutral").as("neutral_serp"),
        countIf(col("eff_sentiment") === "positive").as("positive_serp"))
  }

  /** Shared item-grain effective labels for the four serp-feature MVs:
    * item-override > url-override > llm > raw
    * (`sql/serp_feature_daily_mv.sql:8-13`). */
  def featureItemsEffective(
      items: DataFrame,
      itemOverrides: DataFrame,
      urlOverrides: DataFrame): DataFrame =
    items
      .join(broadcast(itemOverrides.select(
        col("serp_feature_item_id"),
        col("override_sentiment_label").as("ov_sent"),
        col("override_control_class").as("ov_ctl"))),
        col("id") === col("serp_feature_item_id"), "left")
      .join(broadcast(urlOverrides.select(
        col("entity_type").as("u_et"), col("entity_id").as("u_eid"),
        col("feature_type").as("u_ft"), col("url_hash").as("u_uh"),
        col("override_sentiment_label").as("uov_sent"),
        col("override_control_class").as("uov_ctl"))),
        col("entity_type") === col("u_et") && col("entity_id") === col("u_eid") &&
          col("feature_type") === col("u_ft") && col("url_hash") === col("u_uh"), "left")
      .withColumn("eff_sentiment",
        coalesce(col("ov_sent"), col("uov_sent"), col("llm_sentiment_label"),
          col("sentiment_label")))
      .withColumn("eff_control",
        coalesce(col("ov_ctl"), col("uov_ctl"), col("llm_control_class"),
          col("control_class")))

  /** Group keys of the serp-feature MVs: the entity grain of
    * `serp_feature_daily_mv` / `serp_feature_control_daily_mv`, and the
    * "Index" grain of the `_index` twins, which drops the entity dimension
    * (`sql/serp_feature_daily_index_mv.sql:1-12`). */
  val EntityGrain: Seq[String] =
    Seq("date", "entity_type", "entity_id", "entity_name", "feature_type")
  val IndexGrain: Seq[String] = Seq("date", "entity_type", "feature_type")

  /** Sentiment histogram of `serp_feature_daily_mv`
    * (`sql/serp_feature_daily_mv.sql:1-14`) at `grain`, over the
    * [[featureItemsEffective]] projection. */
  def serpFeatureSentiment(eff: DataFrame, grain: Seq[String]): DataFrame =
    eff
      .groupBy(grain.map(col): _*)
      .agg(
        count(lit(1)).as("total_count"),
        countIf(col("eff_sentiment") === "positive").as("positive_count"),
        countIf(col("eff_sentiment") === "neutral").as("neutral_count"),
        countIf(col("eff_sentiment") === "negative").as("negative_count"))

  /** Control count of `serp_feature_control_daily_mv`
    * (`sql/serp_feature_control_daily_mv.sql:1-18`) at `grain`, over the
    * [[featureItemsEffective]] projection. */
  def serpFeatureControl(eff: DataFrame, grain: Seq[String]): DataFrame =
    eff
      .groupBy(grain.map(col): _*)
      .agg(
        countIf(col("eff_control").isNotNull).as("total_count"),
        countIf(col("eff_control") === "controlled").as("controlled_count"))

  /** `negative_articles_summary_mv` (`sql/negative_summary_mv.sql:1-49`):
    * brand+ceo union at mention grain, then negative/crisis counts and the
    * top-3-alphabetical negative headlines. NULL (not "") when a group has
    * no negative titles — matches `array_to_string(NULL)` in the reference. */
  def negativeSummary(
      companyMentionsDaily: DataFrame,
      ceoMentionsDaily: DataFrame,
      companyMentions: DataFrame,
      ceoMentions: DataFrame,
      companies: DataFrame,
      ceos: DataFrame,
      articles: DataFrame,
      companyOverrides: DataFrame,
      ceoOverrides: DataFrame): DataFrame = {
    val art = broadcast(articles.select(col("id").as("aid"), col("title")))
    val brand = companyMentionsDaily
      .join(companyMentions.select(col("company_id").as("m_cid"),
        col("article_id").as("m_aid"), col("llm_risk_label")),
        col("company_id") === col("m_cid") && col("article_id") === col("m_aid"))
      .join(broadcast(companies.select(col("id"), col("name"))), col("company_id") === col("id"))
      .join(art, col("article_id") === col("aid"))
      .join(broadcast(companyOverrides.select(col("company_id").as("ov_cid"),
        col("article_id").as("ov_aid"), col("override_sentiment_label"))),
        col("company_id") === col("ov_cid") && col("article_id") === col("ov_aid"), "left")
      .select(col("date"), col("id").as("company_id_out"), col("name").as("company"),
        lit("").as("ceo"),
        coalesce(col("override_sentiment_label"), col("sentiment_label")).as("sentiment"),
        col("title"), col("llm_risk_label"), lit("brand").as("article_type"))

    val ceo = ceoMentionsDaily
      .join(ceoMentions.select(col("ceo_id").as("m_ceoid"),
        col("article_id").as("m_aid"), col("llm_risk_label")),
        col("ceo_id") === col("m_ceoid") && col("article_id") === col("m_aid"))
      .join(broadcast(ceos.select(col("id"), col("name").as("ceo_name"),
        col("company_id").as("ceo_company_id"))), col("ceo_id") === col("id"))
      .join(broadcast(companies.select(col("id").as("cid"), col("name").as("company_name"))),
        col("ceo_company_id") === col("cid"))
      .join(art, col("article_id") === col("aid"))
      .join(broadcast(ceoOverrides.select(col("ceo_id").as("ov_ceoid"),
        col("article_id").as("ov_aid"), col("override_sentiment_label"))),
        col("ceo_id") === col("ov_ceoid") && col("article_id") === col("ov_aid"), "left")
      .select(col("date"), col("cid").as("company_id_out"), col("company_name").as("company"),
        coalesce(col("ceo_name"), lit("")).as("ceo"),
        coalesce(col("override_sentiment_label"), col("sentiment_label")).as("sentiment"),
        col("title"), col("llm_risk_label"), lit("ceo").as("article_type"))

    brand.unionByName(ceo)
      .groupBy(col("date"), col("company_id_out").as("company_id"), col("company"),
        col("ceo"), col("article_type"))
      .agg(
        countIf(col("sentiment") === "negative").as("negative_count"),
        countIf(col("llm_risk_label") === "crisis_risk").as("crisis_risk_count"),
        when(countIf(col("sentiment") === "negative") > 0,
          array_join(slice(sort_array(collect_list(
            when(col("sentiment") === "negative", col("title")))), 1, 3), " | "))
          .as("top_headlines"))
  }
}
