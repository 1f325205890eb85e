package graft.streaming

import graft.operators.ViewMaintenance
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous materialized-view maintenance — the streaming face of
  * [[graft.operators.ViewMaintenance.countDelta]]: each micro-batch of
  * facts emits delta rows (old_n → new_n per touched group, stamped with
  * batch_id) to a change sink the moment it lands, and writes its
  * per-group contributions to a LOG-STRUCTURED count store (parquet of
  * (keys, add_n) per batch). Both sinks are [[BatchStore]] roots, so
  * restarts resume from the store and a batch replayed after a crash
  * between the two writes and the checkpoint commit overwrites its own
  * rows instead of counting twice. The current view at any moment is
  * `sum(add_n)` over the log — compaction is an offline concern, exactly
  * like an LSM level merge.
  *
  * Parity contract (pinned in StreamingSpec): after all batches, the
  * store's summed counts equal the one-shot batch aggregate, and the
  * telescoping delta chain reconstructs every intermediate state
  * (new_n of batch i == old_n of the next delta touching that group). */
object MaintenanceStream {

  def processBatch(
      storePath: String,
      deltasPath: String,
      keyCols: Seq[String])(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val id = batchId.toString
    val log = BatchStore.readExcept(batch.sparkSession, storePath, id,
      batch.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("add_n")))
    val current = currentView(log, keyCols)
      .withColumnRenamed("n", "old_n")
    val delta = ViewMaintenance.countDelta(current, batch, keyCols)
      .withColumn("batch_id", lit(batchId))
    BatchStore.write(delta, deltasPath, id)
    BatchStore.write(
      delta.select((keyCols.map(col) :+ col("delta_n").as("add_n")): _*),
      storePath, id)
  }

  /** The materialized view as of the log's tail: `add_n` summed per key. */
  def currentView(log: DataFrame, keyCols: Seq[String]): DataFrame =
    log.groupBy(keyCols.map(col): _*).agg(sum(col("add_n")).as("n"))
}
