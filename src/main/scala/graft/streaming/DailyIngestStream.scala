package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming extension (SURVEY.md §2.10): the reference is pure
  * daily batch (cron + MV refresh), so streaming is the beyond-reference
  * scale path — the same daily ingest expressed as an incremental file
  * stream:
  *
  *  - bronze: `readStream` over a drop directory (new files = new daily
  *    deliveries), `Trigger.AvailableNow` for catch-up-then-stop batch
  *    semantics, or a processing-time trigger for continuous tailing.
  *  - silver: watermarked tumbling daily windows for event-time aggregates
  *    (late data bounded by the watermark).
  *  - gold: `foreachBatch` upsert — per micro-batch, recompute only the
  *    affected date partitions of a gold table (the incremental analogue of
  *    the reference's whole-MV `refresh materialized view`,
  *    `dashboard_app/app.py:7059-7182`).
  */
object DailyIngestStream {

  /** Bronze file stream over a directory of parquet drops. */
  def readParquetStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Event-time daily aggregation with a watermark: one row per
    * (window day, key...) updated as events arrive; late events beyond
    * `watermark` are dropped deterministically. */
  def dailyCounts(
      events: DataFrame,
      tsCol: String,
      keys: Seq[String],
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), "1 day").as("day_window") +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("v"))
      .select((col("day_window.start").cast("date").as("date") +:
        keys.map(col) :+ col("n") :+ col("v")): _*)

  /** Streaming URL-canonical dedup — the incremental form of the articles
    * table's `on conflict (canonical_url) do nothing`-style first-wins
    * insert (S12): duplicates of a key arriving within the watermark window
    * are dropped with bounded state (keys older than the watermark are
    * evicted — exactly the trade a streaming MERGE makes at 100 TB: exact
    * dedup inside the lateness bound, batch reconciliation beyond it). */
  def dedupByKeyWithinWatermark(
      stream: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      watermark: String = "1 day"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Gold sink: dynamic-partition-overwrite upsert of the affected dates,
    * driven per micro-batch. Idempotent: replaying a batch rewrites the same
    * partitions (the Delta-MERGE analogue on plain parquet, cf. S12). */
  def goldUpsertWriter(
      daily: DataFrame,
      goldPath: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    daily.writeStream
      // complete mode: every trigger emits the full recomputed aggregate, so
      // the dynamic partition overwrite below is self-consistent (update mode
      // would emit only changed keys and clobber sibling rows in a partition)
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("date")
          .parquet(goldPath)
      }
}
