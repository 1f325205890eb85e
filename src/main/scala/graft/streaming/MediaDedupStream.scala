package graft.streaming

import graft.multimodal.Multimodal
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame

/** Continuous-ingest PERCEPTUAL media dedup — the multimodal face of
  * [[DedupStream]]: each micro-batch of media payloads is decoded ONCE
  * through the real JDK codec ([[Multimodal.aHashBands]] — ImageIO for the
  * image rows this stream fingerprints), the fingerprints probe the
  * accumulated band store, near-dup pairs (exact Hamming ≤ `maxHamming`)
  * are emitted exactly once — when the LATER asset arrives — and the new
  * fingerprints join the store. The corpus is never re-decoded: the
  * store carries fingerprints, not payloads, so a 100 TB media corpus
  * reduces to a few GB of band rows.
  *
  * The telescoping union of per-batch emissions equals the one-shot
  * [[Dedup.aHashPairs]] batch pair set (pinned in StreamingSpec). State
  * lives in the store parquet, not Spark streaming state — restarts resume
  * from the store, and the store doubles as the batch-side fingerprint
  * table. At scale, partition the store by band key so the touched-bucket
  * probe becomes partition pruning.
  *
  * Exactly-once via [[BatchStore]]'s batch-owned partitions: a batch
  * replayed after a crash between the two writes overwrites its own
  * partial output instead of adding duplicate band rows (which would emit
  * duplicate pairs in later batches and double-count toward the maxBucket
  * flood cap). */
object MediaDedupStream {

  def processBatch(
      storePath: String,
      pairsPath: String,
      maxHamming: Int = 3,
      maxBucket: Int = 10000)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val id = batchId.toString
    val newBand = Dedup.aHashBandTable(
      Multimodal.aHashBands(batch), "media_id", "bands").persist()
    try {
      val store = BatchStore.readExcept(batch.sparkSession, storePath, id, newBand)
      // an id the store already carries is a RE-DELIVERY (at-least-once
      // source), not a new asset: its pairs were emitted when it first
      // arrived, and appending its band rows again would emit duplicate
      // pairs in later batches — drop it from this batch outright (the
      // (id, id) self-pair the probe suppresses could never catch it)
      val freshBand = newBand.join(
        store.select("id").distinct(), Seq("id"), "left_anti")
      BatchStore.write(
        Dedup.aHashIncrementalPairs(freshBand, store, maxHamming, maxBucket), pairsPath, id)
      BatchStore.write(freshBand, storePath, id)
    } finally newBand.unpersist(blocking = false)
  }
}
