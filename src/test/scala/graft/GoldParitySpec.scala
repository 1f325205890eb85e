package graft

import graft.gold.{GoldTables, Schemas}
import graft.views.{EntityAnomalies, EntityDailyMetrics, EntityWeeklyRollup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DateType, StructType, TimestampType}
import org.apache.spark.sql.functions._

/** Differential parity against the REFERENCE's own SQL: goldens were
  * produced by running the unmodified reference MV + view SQL in DuckDB
  * over reference-schema fixtures (tools/gen_goldens.py). Each builder here
  * must reproduce those outputs row-for-row. */
class GoldParitySpec extends SparkSpec {

  private def res(path: String): String =
    getClass.getResource(path).getPath

  private def fixture(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .json(res(s"/fixtures/$name.jsonl"))

  private lazy val companies = fixture("companies", Schemas.companies)
  private lazy val ceos = fixture("ceos", Schemas.ceos)
  private lazy val articles = fixture("articles", Schemas.articles)
  private lazy val cam = fixture("company_article_mentions", Schemas.companyArticleMentions)
  private lazy val ceam = fixture("ceo_article_mentions", Schemas.ceoArticleMentions)
  private lazy val camd = fixture("company_article_mentions_daily", Schemas.companyArticleMentionsDaily)
  private lazy val ceamd = fixture("ceo_article_mentions_daily", Schemas.ceoArticleMentionsDaily)
  private lazy val cao = fixture("company_article_overrides", Schemas.companyArticleOverrides)
  private lazy val ceao = fixture("ceo_article_overrides", Schemas.ceoArticleOverrides)
  private lazy val serpRuns = fixture("serp_runs", Schemas.serpRuns)
  private lazy val serpResults = fixture("serp_results", Schemas.serpResults)
  private lazy val sro = fixture("serp_result_overrides", Schemas.serpResultOverrides)
  private lazy val sfi = fixture("serp_feature_items", Schemas.serpFeatureItems)
  private lazy val sfio = fixture("serp_feature_item_overrides", Schemas.serpFeatureItemOverrides)
  private lazy val sfuo = fixture("serp_feature_url_overrides", Schemas.serpFeatureUrlOverrides)

  /** canonical row strings: columns sorted by name; numerics normalized to
    * 9dp-rounded plain decimals; dates ISO. */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    val casted = df.select(cols.map { c =>
      df.schema(c).dataType match {
        case DateType => date_format(col(c), "yyyy-MM-dd").as(c)
        case TimestampType => date_format(col(c), "yyyy-MM-dd HH:mm:ss").as(c)
        case _: org.apache.spark.sql.types.NumericType =>
          col(c).cast("decimal(38,9)").as(c)
        case _ => col(c).as(c)
      }
    }: _*)
    casted.collect().map { r =>
      cols.indices.map { i =>
        r.get(i) match {
          case null => "∅"
          case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
          case v => v.toString
        }
      }.mkString("|")
    }.toSeq.sorted
  }

  private def golden(name: String, like: DataFrame): Seq[String] = {
    val schema = like.schema
    val gold = spark.read
      .schema(StructType(schema.map(f => f.copy(dataType = f.dataType match {
        case DateType => org.apache.spark.sql.types.StringType
        // golden JSON serializes all numerics as floats (0.0); read them as
        // wide decimals — canon() normalizes both sides to decimal(38,9)
        case _: org.apache.spark.sql.types.NumericType =>
          org.apache.spark.sql.types.DecimalType(38, 9)
        case t => t
      }))))
      .json(res(s"/goldens/$name.jsonl"))
    canon(gold)
  }

  private def assertParity(name: String, built: DataFrame): Unit = {
    val got = canon(built)
    val want = golden(name, built)
    val missing = want.diff(got)
    val extra = got.diff(want)
    assert(missing.isEmpty && extra.isEmpty,
      s"$name: ${missing.size} missing / ${extra.size} extra rows\n" +
        s"missing: ${missing.take(3).mkString("\n  ")}\nextra: ${extra.take(3).mkString("\n  ")}")
    assert(got.size == want.size)
  }

  private lazy val articleMv = GoldTables.articleDailyCounts(camd, ceamd, companies, ceos, cao, ceao)
  private lazy val serpMv = GoldTables.serpDailyCounts(serpRuns, serpResults, sro, companies, ceos)
  private lazy val eff = GoldTables.featureItemsEffective(sfi, sfio, sfuo)
  private lazy val featureMv = GoldTables.serpFeatureSentiment(eff, GoldTables.EntityGrain)
  private lazy val featureControlMv = GoldTables.serpFeatureControl(eff, GoldTables.EntityGrain)

  test("article_daily_counts_mv parity") { assertParity("article_daily_counts_mv", articleMv) }
  test("serp_daily_counts_mv parity") { assertParity("serp_daily_counts_mv", serpMv) }
  test("serp_feature_daily_mv parity") { assertParity("serp_feature_daily_mv", featureMv) }
  test("serp_feature_control_daily_mv parity") {
    assertParity("serp_feature_control_daily_mv", featureControlMv)
  }
  test("serp_feature_daily_index_mv parity") {
    assertParity("serp_feature_daily_index_mv",
      GoldTables.serpFeatureSentiment(eff, GoldTables.IndexGrain))
  }
  test("serp_feature_control_daily_index_mv parity") {
    assertParity("serp_feature_control_daily_index_mv",
      GoldTables.serpFeatureControl(eff, GoldTables.IndexGrain))
  }
  test("negative_articles_summary_mv parity") {
    assertParity("negative_articles_summary_mv",
      GoldTables.negativeSummary(camd, ceamd, cam, ceam, companies, ceos, articles, cao, ceao))
  }

  private lazy val edm = EntityDailyMetrics.build(
    articleMv, serpMv,
    EntityDailyMetrics.articleCrisis(camd, ceamd, cam, ceam, ceos),
    EntityDailyMetrics.topStoriesSentiment(featureMv, companies, ceos),
    EntityDailyMetrics.topStoriesControl(featureControlMv))

  test("entity_daily_metrics_v parity") { assertParity("entity_daily_metrics_v", edm) }
  test("entity_weekly_rollup_v parity") {
    assertParity("entity_weekly_rollup_v", EntityWeeklyRollup.build(edm))
  }
  test("entity_anomalies_v parity") {
    assertParity("entity_anomalies_v", EntityAnomalies.build(edm))
  }
}
