package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Continuous persistent-heavy-hitter monitoring — the streaming face of
  * [[graft.operators.HeavyHitters.persistentHitters]] (q148): each
  * micro-batch (one epoch's events, or several) is reduced to its exact
  * per-epoch top-k (count desc, key asc — the batch operator's total
  * order) and written to a leaderboard store; the store holds ≤ k rows
  * per epoch ever seen, so the survivor rollup ("hot on ≥ m epochs —
  * salt this key permanently") is a tiny store-side aggregate available
  * the moment a drop lands, not in a nightly batch.
  *
  * Parity contract (pinned in StreamingSpec): feeding whole epochs —
  * in any batching, any order, each epoch delivered exactly once —
  * then rolling up the store yields exactly the batch operator's rows,
  * because the per-epoch top-k depends only on that epoch's own counts.
  * The store is a [[BatchStore]] root — restarts resume from it, and a
  * replayed batch cannot count its epochs twice; it grows by ≤ k rows per
  * epoch, epochs-grain, never events-grain. */
object HittersStream {

  def processBatch(
      storePath: String,
      epochCol: String,
      keyCol: String,
      k: Int)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val w = Window.partitionBy("epoch").orderBy(col("__cnt").desc, col("key").asc)
    BatchStore.write(batch
      .groupBy(col(epochCol).cast("long").as("epoch"), col(keyCol).as("key"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .select(col("epoch"), col("key"),
        col("__rank").cast("long").as("rank"), col("__cnt").as("cnt")),
      storePath, batchId.toString)
  }

  /** Survivor rollup over the leaderboard store — equals the batch
    * [[graft.operators.HeavyHitters.persistentHitters]] output once all
    * epochs are ingested. */
  def survivors(spark: SparkSession, storePath: String, minEpochs: Int): DataFrame =
    BatchStore.read(spark, storePath)
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_epochs_top"),
        min(col("rank")).as("best_rank"),
        max(col("cnt")).as("max_cnt"))
      .filter(col("n_epochs_top") >= minEpochs)
}
