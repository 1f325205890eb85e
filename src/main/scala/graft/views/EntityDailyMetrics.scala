package graft.views

import graft.operators.Rollups.countIf
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `entity_daily_metrics_v` (`sql/entity_daily_metrics_v.sql:1-167`) — the
  * heaviest read in the reference: union-of-keys over four metric sources,
  * five left joins back, every metric coalesced to 0.
  *
  * The inputs here are already-aggregated gold tables (one row per entity ×
  * day), so [[build]] re-expresses the key union and the joins as one
  * aggregate over the unioned legs, keyed on (date, entity_type,
  * entity_id): one shuffle of the legs, plus the sentiment leg's join on
  * the same key. There is no raw-fact shuffle in this view. (The raw-fact
  * crunch happened in the Gold builders.)
  */
object EntityDailyMetrics {

  /** article_crisis CTE (`entity_daily_metrics_v.sql:33-57`): crisis-risk
    * label counts from the mention grain. */
  def articleCrisis(
      companyMentionsDaily: DataFrame,
      ceoMentionsDaily: DataFrame,
      companyMentions: DataFrame,
      ceoMentions: DataFrame,
      ceos: DataFrame): DataFrame = {
    val brand = companyMentionsDaily
      .join(companyMentions.select(col("company_id").as("m_cid"),
        col("article_id").as("m_aid"), col("llm_risk_label")),
        col("company_id") === col("m_cid") && col("article_id") === col("m_aid"), "left")
      .groupBy(col("date"), col("company_id"))
      .agg(countIf(col("llm_risk_label") === "crisis_risk").as("crisis_risk_count"))
      .select(col("date"), lit("brand").as("entity_type"),
        col("company_id").as("entity_id"), col("company_id"),
        lit(null: String).as("ceo_id"), col("crisis_risk_count"))
    val ceo = ceoMentionsDaily
      .join(broadcast(ceos.select(col("id"), col("company_id").as("ceo_company_id"))),
        col("ceo_id") === col("id"))
      .join(ceoMentions.select(col("ceo_id").as("m_ceoid"),
        col("article_id").as("m_aid"), col("llm_risk_label")),
        col("ceo_id") === col("m_ceoid") && col("article_id") === col("m_aid"), "left")
      .groupBy(col("date"), col("ceo_company_id"), col("ceo_id"))
      .agg(countIf(col("llm_risk_label") === "crisis_risk").as("crisis_risk_count"))
      .select(col("date"), lit("ceo").as("entity_type"), col("ceo_id").as("entity_id"),
        col("ceo_company_id").as("company_id"), col("ceo_id"), col("crisis_risk_count"))
    brand.unionByName(ceo)
  }

  /** top_stories CTEs (`entity_daily_metrics_v.sql:59-121`): re-aggregate the
    * feature MVs at brand/ceo grain for feature_type = top_stories_items. */
  def topStoriesSentiment(serpFeatureDaily: DataFrame, companies: DataFrame,
      ceos: DataFrame): DataFrame = {
    val fd = serpFeatureDaily.filter(col("feature_type") === "top_stories_items")
      .withColumn("norm_entity_type",
        when(col("entity_type").isin("brand", "company"), "brand").otherwise("ceo"))
    fd.join(broadcast(companies.select(col("id").as("cb_id"), col("name").as("cb_name"))),
        col("norm_entity_type") === "brand" && col("entity_id") === col("cb_id"), "left")
      .join(broadcast(ceos.select(col("id").as("ce_id"), col("name").as("ce_name"),
        col("company_id").as("ce_company_id"))),
        col("norm_entity_type") === "ceo" && col("entity_id") === col("ce_id"), "left")
      .join(broadcast(companies.select(col("id").as("cc_id"), col("name").as("cc_name"))),
        col("ce_company_id") === col("cc_id"), "left")
      .withColumn("company_id",
        when(col("norm_entity_type") === "brand", col("entity_id"))
          .otherwise(col("ce_company_id")))
      .withColumn("ceo_id",
        when(col("norm_entity_type") === "ceo", col("entity_id")))
      .withColumn("company",
        coalesce(col("cb_name"), col("cc_name"), col("entity_name")))
      .withColumn("ceo",
        when(col("norm_entity_type") === "ceo",
          coalesce(col("ce_name"), col("entity_name"))).otherwise(lit("")))
      .withColumn("out_entity_name",
        coalesce(when(col("norm_entity_type") === "ceo", col("ce_name"))
          .otherwise(col("cb_name")), col("entity_name")))
      .groupBy(col("date"), col("norm_entity_type").as("entity_type"), col("entity_id"),
        col("company_id"), col("ceo_id"), col("company"), col("ceo"),
        col("out_entity_name").as("entity_name"))
      .agg(
        sum(col("total_count")).as("top_stories_total_count"),
        sum(col("positive_count")).as("top_stories_positive_count"),
        sum(col("neutral_count")).as("top_stories_neutral_count"),
        sum(col("negative_count")).as("top_stories_negative_count"))
  }

  def topStoriesControl(serpFeatureControlDaily: DataFrame): DataFrame =
    serpFeatureControlDaily.filter(col("feature_type") === "top_stories_items")
      .withColumn("norm_entity_type",
        when(col("entity_type").isin("brand", "company"), "brand").otherwise("ceo"))
      .groupBy(col("date"), col("norm_entity_type").as("entity_type"), col("entity_id"))
      .agg(sum(col("controlled_count")).as("top_stories_controlled_count"))

  /** The full view (`entity_daily_metrics_v.sql:123-167`). The reference
    * takes the key union of the article, serp, crisis and top-stories
    * sentiment legs and left-joins all five legs back. Here the legs are
    * projected onto one wide schema, tagged with their rank in the
    * reference's `coalesce(a, s, ac, ts)` order, unioned and aggregated once
    * per key: identity columns take the lowest-ranked leg carrying a value
    * (`min_by`), metrics the one leg carrying them (`max`). The control leg
    * ranks last and keeps only keys another leg brings, as a left join does.
    *
    * The sentiment leg contributes keys to the aggregate but its values are
    * joined once, after it: every other leg has at most one row per key, but
    * an entity missing from the dims whose top-stories rows carry two names
    * has two sentiment rows for one key, and the reference keeps both. */
  def build(
      articleDailyCounts: DataFrame,
      serpDailyCounts: DataFrame,
      articleCrisisDf: DataFrame,
      topStoriesSentimentDf: DataFrame,
      topStoriesControlDf: DataFrame): DataFrame = {
    val key = Seq("date", "entity_type", "entity_id")
    val ids = Seq("company_id", "ceo_id")
    val names = Seq("entity_name", "company", "ceo")
    val tsCounts = Seq("top_stories_total_count", "top_stories_positive_count",
      "top_stories_neutral_count", "top_stories_negative_count")
    def leg(df: DataFrame, cols: Column*): DataFrame = df.select(key.map(col) ++ cols: _*)

    val legs = Seq(
      leg(articleDailyCounts, (ids ++ names).map(col) ++ Seq(
        col("positive").as("article_positive_count"),
        col("neutral").as("article_neutral_count"),
        col("negative").as("article_negative_count"),
        col("total").as("article_total_count"),
        col("neg_pct").as("article_negative_pct")): _*),
      leg(serpDailyCounts, (ids ++ names).map(col) ++ Seq(
        col("positive_serp").as("serp_positive_count"),
        col("neutral_serp").as("serp_neutral_count"),
        col("negative_serp").as("serp_negative_count"),
        col("total").as("serp_total_count"),
        col("controlled").as("serp_controlled_count"),
        greatest(col("total") - col("controlled"), lit(0)).as("serp_uncontrolled_count")): _*),
      leg(articleCrisisDf, ids.map(col) :+ col("crisis_risk_count"): _*),
      leg(topStoriesSentimentDf),
      leg(topStoriesControlDf, col("top_stories_controlled_count")))
    val controlRank = legs.size - 1
    val unioned = legs.zipWithIndex
      .map { case (df, rank) => df.withColumn("leg_rank", lit(rank)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val metrics = unioned.columns.toSeq.diff(key ++ ids ++ names :+ "leg_rank")

    // a key with a null part matches no leg in the reference's joins: it
    // keeps its row but takes none of the legs' values
    val complete = key.map(col(_).isNotNull).reduce(_ && _)
    def own(c: Column): Column = when(complete, c)
    def lowestRanked(v: Column): Column = min_by(v, when(v.isNotNull, col("leg_rank")))
    val perKey = unioned.groupBy(key.map(col): _*)
      .agg(min(col("leg_rank")).as("first_rank"),
        ids.map(c => lowestRanked(own(col(c))).as(c)) ++
          names.map(c => lowestRanked(own(nullif(col(c), lit("")))).as(c)) ++
          metrics.map(c => max(own(col(c))).as(c)): _*)
      .filter(col("first_rank") < controlRank)

    val ts = topStoriesSentimentDf.select(key.map(col) ++
      (ids ++ names).map(c => col(c).as(s"ts_$c")) ++ tsCounts.map(col): _*)
    def zero(c: String): Column = coalesce(col(c), lit(0L)).as(c)
    perKey.join(ts, key, "left").select(
      key.map(col) ++
        ids.map(c => coalesce(col(c), col(s"ts_$c")).as(c)) ++
        names.map(c => coalesce(col(c), nullif(col(s"ts_$c"), lit("")), lit("")).as(c)) ++
        Seq("article_positive_count", "article_neutral_count", "article_negative_count",
          "article_total_count").map(zero) ++
        Seq(coalesce(col("article_negative_pct"), lit(0).cast("decimal(38,6)"))
          .as("article_negative_pct")) ++
        Seq("serp_positive_count", "serp_neutral_count", "serp_negative_count",
          "serp_total_count", "serp_controlled_count", "serp_uncontrolled_count").map(zero) ++
        (tsCounts :+ "top_stories_controlled_count").map(zero) ++
        Seq(greatest(coalesce(col("top_stories_total_count"), lit(0L)) -
          coalesce(col("top_stories_controlled_count"), lit(0L)), lit(0L))
          .as("top_stories_uncontrolled_count"),
          zero("crisis_risk_count")): _*)
  }
}
