package graft.views

import graft.operators.Windows
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `entity_weekly_rollup_v` (`sql/entity_weekly_rollup_v.sql:1-37`): 7-ROW
  * trailing window per entity over the daily metrics view. ROWS (not RANGE)
  * frame is intentional and reference-faithful — sparse dates mean "last 7
  * observations", not "last 7 calendar days". One shuffle on the entity key.
  */
object EntityWeeklyRollup {

  def build(entityDailyMetrics: DataFrame): DataFrame = {
    val w = Windows.trailing(Seq("entity_type", "entity_id"), "date", 7,
      EntityDailyMetrics.dateTieBreak)
    entityDailyMetrics.select(
      min(col("date")).over(w).as("week_start"),
      col("entity_type"), col("entity_id"), col("company_id"), col("ceo_id"),
      col("entity_name"), col("company"), col("ceo"),
      sum(col("article_negative_count")).over(w).as("article_negative_7d"),
      sum(col("article_total_count")).over(w).as("article_total_7d"),
      avg(col("article_negative_pct")).over(w).as("article_negative_pct_avg_7d"),
      sum(col("serp_negative_count")).over(w).as("serp_negative_7d"),
      sum(col("serp_total_count")).over(w).as("serp_total_7d"),
      sum(col("serp_controlled_count")).over(w).as("serp_controlled_7d"),
      sum(col("serp_uncontrolled_count")).over(w).as("serp_uncontrolled_7d"),
      sum(col("top_stories_total_count")).over(w).as("top_stories_total_7d"),
      sum(col("top_stories_negative_count")).over(w).as("top_stories_negative_7d"),
      sum(col("top_stories_controlled_count")).over(w).as("top_stories_controlled_7d"),
      sum(col("top_stories_uncontrolled_count")).over(w).as("top_stories_uncontrolled_7d"),
      sum(when(col("top_stories_negative_count") >= 4, 1L).otherwise(0L)).over(w)
        .as("top_stories_crisis_days_7d"),
      sum(col("crisis_risk_count")).over(w).as("crisis_risk_7d"),
      col("date").as("window_end"))
  }
}
