package graft.streaming

import graft.operators.Bootstrap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous uncertainty monitoring — the streaming face of
  * [[Bootstrap.poissonReplicateMeans]]: every micro-batch folds its rows'
  * deterministic Poisson(1) replicate weights into a log-structured
  * moment store (parquet of `(group, replicate, sw, n)` per batch — the
  * [[MaintenanceStream]] posture), and the replicate means/CI of the
  * WHOLE stream so far are a
  * pure read of the store. This works because Poisson bootstrap moments
  * are MERGEABLE: each row's weight depends only on its id hash, so
  * per-batch partial sums add associatively — the one property classic
  * resampling lacks and the reason this is the streaming bootstrap.
  *
  * foreachBatch is at-least-once; the store is a [[BatchStore]] root, so a
  * replayed batch overwrites its own partial sums instead of adding them
  * twice.
  *
  * Parity contract (pinned in StreamingSpec): after all batches,
  * [[currentMeans]] equals the one-shot
  * [[Bootstrap.poissonReplicateMeans]] over the union of the batches,
  * row-for-row — the weighted sums are exact integers, so equality is
  * exact, not approximate. */
object BootstrapStream {

  def processBatch(
      storePath: String,
      idCol: String,
      valueCol: String,
      groupCol: String,
      b: Int)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    // the same hash→affine→threshold weights as the batch operator, so
    // the store's partial sums are bit-compatible with a one-shot run
    BatchStore.write(
      Bootstrap.poissonReplicateSums(batch, idCol, valueCol, groupCol, b),
      storePath, batchId.toString)
  }

  /** Replicate means of everything ingested so far: the exact integer
    * partial sums merge and divide once. */
  def currentMeans(log: DataFrame, groupCol: String): DataFrame =
    log
      .groupBy(col(groupCol), col("replicate"))
      .agg(sum(col("sw")).as("__sw"), sum(col("n")).as("__n"))
      .select(col(groupCol), col("replicate"),
        (col("__sw").cast("double") / col("__n").cast("double")).as("mean"))
}
