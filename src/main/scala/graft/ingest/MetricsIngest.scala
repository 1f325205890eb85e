package graft.ingest

import graft.sources.PipeSeries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S5 stock CSV loaders (reference `src/ingest_metrics.py:29-179`): each
  * row carries `|`-delimited parallel value/date series; the loader
  * explodes them to daily rows and emits a snapshot row per entity with
  * daily/7-day change percentages, computing the changes from the series
  * when the CSV omits them (`ingest_metrics.py:150-165`). The S6 trends
  * loaders were deleted with their only reader: no caller and no test.
  */
object MetricsIngest {

  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** `stock_prices_daily` rows from a stock CSV. */
  def stockDaily(stock: DataFrame): DataFrame =
    PipeSeries.explodeSeries(
      stock.filter(col("ticker").isNotNull && col("price_history").isNotNull),
      Seq("ticker", "company"), "price_history", "date_history",
      valueOut = "price", dateOut = "date")
      .select(col("ticker"), col("company"), to_date(col("date")).as("date"),
        col("price").cast("double").as("price"))
      .filter(col("date").isNotNull && col("price").isNotNull)
      .dropDuplicates("ticker", "date")

  /** `stock_price_snapshots` rows: CSV-provided changes, else computed from
    * the tail of the series. */
  def stockSnapshots(stock: DataFrame): DataFrame = {
    val (daily, weekly) = PipeSeries.snapshotChanges(col("price_history"))
    stock.filter(col("ticker").isNotNull)
      .select(
        col("ticker"), col("company"),
        element_at(transform(split(col("price_history"), "\\|"),
          v => v.cast("double")), -1).as("latest_price"),
        coalesce(col("daily_change_pct").cast("double"), daily).as("daily_change_pct"),
        coalesce(col("seven_day_change_pct").cast("double"), weekly)
          .as("seven_day_change_pct"),
        to_timestamp(col("last_updated")).as("last_updated"))
      .dropDuplicates("ticker")
  }
}
