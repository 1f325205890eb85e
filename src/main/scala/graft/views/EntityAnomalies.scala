package graft.views

import graft.operators.Windows
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `entity_anomalies_v` (`sql/entity_anomalies_v.sql:1-170`): trailing
  * 30-observation baselines (strictly prior frames) + six anomaly rules.
  * The reference unions six filtered selects over one `with baseline as
  * (...)` CTE; Spark shares no subplans, so a union would plan and run the
  * baseline windows once per rule. [[build]] instead evaluates all six rules
  * on each baseline row as one array of structs and explodes the hits: one
  * projection over one baseline.
  */
object EntityAnomalies {

  private def dec(c: Column): Column = c.cast("decimal(28,12)")

  def baseline(entityDailyMetrics: DataFrame): DataFrame = {
    val keys = Seq("entity_type", "entity_id")
    val tie = EntityDailyMetrics.dateTieBreak
    val prior30 = Windows.priorFrame(keys, "date", 30, 1, tie)
    val prior7 = Windows.priorFrame(keys, "date", 7, 1, tie)
    val prior30to8 = Windows.priorFrame(keys, "date", 30, 8, tie)
    val last3 = Windows.trailing(keys, "date", 3, tie)
    entityDailyMetrics
      .withColumn("prior_observation_days_30d", count(lit(1)).over(prior30))
      .withColumn("article_negative_baseline_30d",
        avg(dec(col("article_negative_count"))).over(prior30))
      .withColumn("serp_uncontrolled_baseline_30d",
        avg(dec(col("serp_uncontrolled_count"))).over(prior30))
      .withColumn("top_stories_negative_baseline_30d",
        avg(dec(col("top_stories_negative_count"))).over(prior30))
      .withColumn("top_stories_prior_7d_max",
        max(col("top_stories_negative_count")).over(prior7))
      .withColumn("top_stories_prior_30d_max",
        max(col("top_stories_negative_count")).over(prior30to8))
      .withColumn("top_stories_crisis_days_3d",
        sum(when(col("top_stories_negative_count") >= 4, 1L).otherwise(0L)).over(last3))
  }

  private val idCols = Seq("date", "entity_type", "entity_id", "company_id", "ceo_id",
    "entity_name", "company", "ceo")
  private val countCols = Seq("article_negative_count", "serp_uncontrolled_count",
    "top_stories_negative_count")

  private def rule(
      anomalyType: String,
      severity: Column,
      observed: Column,
      baselineValue: Column,
      summary: String,
      hit: Column): Column =
    struct(
      hit.as("hit"),
      lit(anomalyType).as("anomaly_type"),
      severity.cast("decimal(38,12)").as("severity_score"),
      observed.cast("decimal(38,12)").as("observed_value"),
      baselineValue.cast("decimal(38,12)").as("baseline_value"),
      lit(summary).as("summary"))

  /** The six rules (`entity_anomalies_v.sql:40-170`), thresholds verbatim;
    * a row that hits k rules yields k anomaly rows. */
  def build(entityDailyMetrics: DataFrame): DataFrame = {
    val zero = lit(0).cast("decimal(28,12)")
    val artBase = coalesce(col("article_negative_baseline_30d"), zero)
    val serpBase = coalesce(col("serp_uncontrolled_baseline_30d"), zero)
    val tsBase = coalesce(col("top_stories_negative_baseline_30d"), zero)
    val priorDays = coalesce(col("prior_observation_days_30d"), lit(0L))

    val rules = array(
      rule("article_spike",
        greatest(dec(col("article_negative_count")) - artBase, zero),
        dec(col("article_negative_count")), artBase,
        "Negative article coverage is materially above the trailing 30-day baseline.",
        col("article_negative_count") >= 4 && priorDays >= 7 &&
          dec(col("article_negative_count")) >= artBase + 2 &&
          dec(col("article_negative_count")) >= greatest(lit(4).cast("decimal(28,12)"), artBase * 2)),
      rule("serp_uncontrolled_spike",
        greatest(dec(col("serp_uncontrolled_count")) - serpBase, zero),
        dec(col("serp_uncontrolled_count")), serpBase,
        "Uncontrolled negative SERP results are materially above the trailing 30-day baseline.",
        col("serp_uncontrolled_count") >= 3 && priorDays >= 7 &&
          dec(col("serp_uncontrolled_count")) >= serpBase + 2 &&
          dec(col("serp_uncontrolled_count")) >= greatest(lit(3).cast("decimal(28,12)"), serpBase * 2)),
      rule("top_stories_surge",
        greatest(dec(col("top_stories_negative_count")) - tsBase, zero),
        dec(col("top_stories_negative_count")), tsBase,
        "Negative Top Stories volume is materially above the trailing 30-day baseline.",
        col("top_stories_negative_count") >= 4 && priorDays >= 7 &&
          dec(col("top_stories_negative_count")) >= tsBase + 2 &&
          dec(col("top_stories_negative_count")) >= greatest(lit(4).cast("decimal(28,12)"), tsBase * 2)),
      rule("sustained_top_stories",
        dec(col("top_stories_negative_count") + col("top_stories_crisis_days_3d")),
        dec(col("top_stories_negative_count")), tsBase,
        "Negative Top Stories have persisted at crisis-level volume for multiple consecutive days.",
        col("top_stories_negative_count") >= 4 && col("top_stories_crisis_days_3d") >= 3),
      rule("search_spillover",
        dec(col("top_stories_negative_count") + col("serp_uncontrolled_count")),
        dec(col("top_stories_negative_count") + col("serp_uncontrolled_count")), zero,
        "Negative coverage is now showing up in both Top Stories and broader search results.",
        col("article_negative_count") >= 3 && col("top_stories_negative_count") >= 4 &&
          col("serp_uncontrolled_count") >= 2),
      rule("resurfacing_top_stories",
        dec(col("top_stories_negative_count") + 2),
        dec(col("top_stories_negative_count")), zero,
        "Top Stories returned after at least a week of relative quiet.",
        col("top_stories_negative_count") >= 4 &&
          coalesce(col("top_stories_prior_7d_max"), lit(0L)) === 0 &&
          coalesce(col("top_stories_prior_30d_max"), lit(0L)) >= 4))

    baseline(entityDailyMetrics)
      .select((idCols ++ countCols).map(col) :+
        explode(filter(rules, _.getField("hit"))).as("rule"): _*)
      .select(idCols.map(col) ++
        Seq("anomaly_type", "severity_score", "observed_value", "baseline_value")
          .map(f => col(s"rule.$f")) ++
        countCols.map(col) :+ col("rule.summary"): _*)
  }
}
