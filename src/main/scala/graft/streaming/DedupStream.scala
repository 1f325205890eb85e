package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame

/** Continuous-ingest near-dup detection: each micro-batch of documents is
  * hashed once, probed against the accumulated signature store
  * ([[graft.operators.Dedup.minhashBandTable]] rows persisted as parquet),
  * and added to it — so every candidate pair is emitted exactly once,
  * when its LATER document arrives, and the corpus is never re-hashed.
  *
  * This is the streaming face of `Dedup.minhashIncrementalPairs`; the
  * telescoping union of per-batch emissions equals the one-shot batch
  * pair set (pinned in StreamingSpec). State lives in the store parquet,
  * not in Spark streaming state — restarts resume from the store, and the
  * store doubles as the batch-side signature table for offline jobs.
  *
  * Store and pairs are [[BatchStore]] roots: a replayed batch reads the
  * store without its own partition and overwrites its own store and pairs
  * partitions, so a replay emits no pair twice. At scale the store is
  * bucketed by band key so the touched-bucket probe becomes pruning.
  */
object DedupStream {

  def processBatch(
      storePath: String,
      pairsPath: String,
      idCol: String,
      textCol: String,
      shingleSize: Int = 2,
      numHashes: Int = 32,
      rowsPerBand: Int = 8,
      maxBucket: Int = 1000,
      portable: Boolean = true)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val id = batchId.toString
    val newBand = Dedup.minhashBandTable(batch, idCol, textCol,
      shingleSize, numHashes, rowsPerBand, portable).persist()
    try {
      val store = BatchStore.readExcept(batch.sparkSession, storePath, id, newBand)
      BatchStore.write(
        Dedup.minhashIncrementalPairs(newBand, store, numHashes, maxBucket), pairsPath, id)
      BatchStore.write(newBand, storePath, id)
    } finally newBand.unpersist(blocking = false)
  }
}
