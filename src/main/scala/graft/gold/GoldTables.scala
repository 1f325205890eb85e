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
  * Scale notes: the seven tables read three fact families, and each family
  * is resolved by one shared stage that every table of the family reads:
  *  - [[effectiveMentions]]: brand and CEO daily mentions are projected
  *    onto one `(entity_type, entity_id)` key and unioned, then meet ONE
  *    [[entityDims]] frame (companies ∪ CEOs with their company) and ONE
  *    override frame (company ∪ CEO article overrides), which sets the
  *    effective label. `articleDailyCounts` and `negativeSummary` aggregate
  *    it;
  *  - [[serpDailyCounts]] keys each run by its entity and joins runs ×
  *    results once, then the result overrides and the same dims frame;
  *  - [[featureItemsEffective]]: item- and url-override coalesce at item
  *    grain, aggregated by the four serp-feature builders at their grain.
  * Dims, article titles and override tables (human-entered, tiny) are
  * broadcast, once per family rather than once per brand/CEO branch. Each
  * table then runs ONE hash aggregate, so its fact rows shuffle once, on
  * the output group key. The fact-to-fact joins (runs × results,
  * effective mentions × mentions in `negativeSummary`) are left to the
  * planner: a broadcast when one side is small, else a shuffle join before
  * the aggregate. The public builders compose the stages for one table;
  * [[GoldRefresh]] builds each stage once per refresh and persists the two
  * projections when two or more of the tables it refreshes read them.
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

  /** The entity key every brand + CEO fact is projected onto. */
  private val EntityKey: Seq[String] = Seq("entity_type", "entity_id")

  /** Output key of the two brand + ceo tables (`articleDailyCounts` adds
    * `alias`): both branches meet the dims on [[EntityKey]] before the one
    * aggregate. */
  private val EntityDayKey: Seq[String] = Seq("date", "entity_type", "entity_id",
    "company_id", "ceo_id", "entity_name", "company", "ceo")

  /** Brand rows of `brand` (keyed by `company_id`) and CEO rows of `ceo`
    * (keyed by `ceo_id`) projected onto [[EntityKey]] ++ `cols`, unioned. */
  private def brandAndCeo(brand: DataFrame, ceo: DataFrame, cols: String*): DataFrame = {
    def keyed(df: DataFrame, entityType: String, idCol: String): DataFrame =
      df.select(lit(entityType).as("entity_type") +: col(idCol).as("entity_id") +:
        cols.map(col): _*)
    keyed(brand, "brand", "company_id").unionByName(keyed(ceo, "ceo", "ceo_id"))
  }

  /** The entity dimension of the brand + CEO tables, one row per
    * [[EntityKey]]: a company is a `brand` entity, a CEO a `ceo` entity
    * joined to its company (every reference branch inner-joins it). Carries
    * the output identity columns: `company_id`, `ceo_id`, `entity_name`,
    * `company`, `ceo` ("" for a brand) and `alias` ("" when absent). The
    * CEO → company join is a nested loop over the two (human-entered, tiny)
    * tables, so broadcasting the dims needs no broadcast of its own: a
    * nested broadcast would add a job that the dims broadcast waits for. */
  private[gold] def entityDims(companies: DataFrame, ceos: DataFrame): DataFrame = {
    val brand = companies.select(lit("brand").as("entity_type"), col("id").as("entity_id"),
      col("id").as("company_id"), lit(null: String).as("ceo_id"),
      col("name").as("entity_name"), col("name").as("company"), lit("").as("ceo"),
      lit("").as("alias"))
    val ceo = ceos
      .join(companies.select(col("id").as("cid"), col("name").as("company_name"))
        .hint("shuffle_replicate_nl"), col("company_id") === col("cid"))
      .select(lit("ceo").as("entity_type"), col("id").as("entity_id"),
        col("cid").as("company_id"), col("id").as("ceo_id"), col("name").as("entity_name"),
        col("company_name").as("company"), col("name").as("ceo"),
        coalesce(col("alias"), lit("")).as("alias"))
    brand.unionByName(ceo)
  }

  /** Brand ∪ CEO daily mentions at mention grain with their [[entityDims]]
    * columns and the effective sentiment (override > raw; articles have NO
    * llm fallback for sentiment), the shared input of
    * [[articleDailyCounts]] and [[negativeSummary]]. */
  private[gold] def effectiveMentions(
      companyMentionsDaily: DataFrame,
      ceoMentionsDaily: DataFrame,
      dims: DataFrame,
      companyOverrides: DataFrame,
      ceoOverrides: DataFrame): DataFrame = {
    val overrides = brandAndCeo(companyOverrides, ceoOverrides,
      "article_id", "override_sentiment_label")
      .select(col("entity_type").as("ov_type"), col("entity_id").as("ov_id"),
        col("article_id").as("ov_article_id"), col("override_sentiment_label"))
    brandAndCeo(companyMentionsDaily, ceoMentionsDaily, "date", "article_id", "sentiment_label")
      .join(broadcast(dims), EntityKey)
      .join(broadcast(overrides), col("entity_type") === col("ov_type") &&
        col("entity_id") === col("ov_id") && col("article_id") === col("ov_article_id"), "left")
      .select((EntityDayKey ++ Seq("alias", "article_id")).map(col) :+
        coalesce(col("override_sentiment_label"), col("sentiment_label")).as("sentiment"): _*)
  }

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
      ceoOverrides: DataFrame): DataFrame =
    articleDailyCounts(effectiveMentions(companyMentionsDaily, ceoMentionsDaily,
      entityDims(companies, ceos), companyOverrides, ceoOverrides))

  /** `article_daily_counts_mv` over the [[effectiveMentions]] stage. */
  private[gold] def articleDailyCounts(mentions: DataFrame): DataFrame = {
    val pivots = sentimentPivot(col("sentiment"))
    mentions
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
      ceos: DataFrame): DataFrame =
    serpDailyCounts(serpRuns, serpResults, serpResultOverrides, entityDims(companies, ceos))

  /** `serp_daily_counts_mv` over an [[entityDims]] frame: each run is keyed
    * by its entity (a `company` run as a brand), so runs × results is
    * joined once for both branches. */
  private[gold] def serpDailyCounts(
      serpRuns: DataFrame,
      serpResults: DataFrame,
      serpResultOverrides: DataFrame,
      dims: DataFrame): DataFrame = {
    val isBrand = col("entity_type") === "company"
    val runs = serpRuns.filter(isBrand || col("entity_type") === "ceo")
      .select(col("id").as("run_id"), to_date(col("run_at")).as("date"),
        when(isBrand, lit("brand")).otherwise(lit("ceo")).as("entity_type"),
        when(isBrand, col("company_id")).otherwise(col("ceo_id")).as("entity_id"))
    runs
      .join(serpResults.select(col("serp_run_id"), col("id").as("result_id"),
        col("control_class"), col("llm_control_class"), col("sentiment_label"),
        col("llm_sentiment_label")), col("run_id") === col("serp_run_id"))
      .join(broadcast(serpResultOverrides
        .select(col("serp_result_id"), col("override_sentiment_label"),
          col("override_control_class"))),
        col("result_id") === col("serp_result_id"), "left")
      .join(broadcast(dims), EntityKey)
      .withColumn("eff_control", coalesce(col("override_control_class"),
        col("llm_control_class"), col("control_class")))
      .withColumn("eff_sentiment", coalesce(col("override_sentiment_label"),
        col("llm_sentiment_label"), col("sentiment_label")))
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
      ceoOverrides: DataFrame): DataFrame =
    negativeSummary(effectiveMentions(companyMentionsDaily, ceoMentionsDaily,
      entityDims(companies, ceos), companyOverrides, ceoOverrides),
      companyMentions, ceoMentions, articles)

  /** `negative_articles_summary_mv` over the [[effectiveMentions]] stage:
    * its rows meet their mention's `llm_risk_label` and article title. */
  private[gold] def negativeSummary(
      mentions: DataFrame,
      companyMentions: DataFrame,
      ceoMentions: DataFrame,
      articles: DataFrame): DataFrame = {
    val negative = col("sentiment") === "negative"
    mentions
      .join(brandAndCeo(companyMentions, ceoMentions, "article_id", "llm_risk_label"),
        EntityKey :+ "article_id")
      .join(broadcast(articles.select(col("id").as("aid"), col("title"))),
        col("article_id") === col("aid"))
      .groupBy(col("date"), col("company_id"), col("company"),
        coalesce(col("ceo"), lit("")).as("ceo"), col("entity_type").as("article_type"))
      .agg(
        countIf(negative).as("negative_count"),
        countIf(col("llm_risk_label") === "crisis_risk").as("crisis_risk_count"),
        when(countIf(negative) > 0,
          array_join(slice(sort_array(collect_list(when(negative, col("title")))), 1, 3),
            " | ")).as("top_headlines"))
  }
}
