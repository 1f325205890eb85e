package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous-ingest duplicated-span screening — the streaming face of
  * [[graft.operators.Dedup.duplicatedSpansIncremental]]: each micro-batch
  * is scored against the accumulated span-hash store ("is any of this
  * document's windows text we have EVER seen?"), then the store absorbs
  * the batch's new hashes. Only the batch is ever hashed; the corpus is
  * never re-scanned.
  *
  * The store stays a SET across batches (new hashes are anti-joined
  * before the write), so the probe join's multiplicity is always 0/1 —
  * the invariant the incremental screen's left join relies on. Store and
  * scores are [[BatchStore]] roots, so a replayed batch neither scores
  * twice nor adds its hashes twice. State lives in the store parquet, not
  * Spark streaming state: restarts resume from the store, and the same
  * files serve offline jobs as the
  * [[graft.operators.Dedup.spanWindowHashes]] side. At scale the store is
  * bucketed by `h`, making both the probe and the anti-join co-located.
  *
  * Streaming semantics are ONLINE by construction: a document is scored
  * against what arrived BEFORE it — an earlier doc is not retroactively
  * re-flagged when a later duplicate arrives (batch-parity with the
  * offline incremental screen on the same prefix is pinned in
  * StreamingSpec).
  */
object SpanScreenStream {

  def processBatch(
      storePath: String,
      outPath: String,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val id = batchId.toString
    val newHashes = Dedup.spanWindowHashes(batch, idCol, textCol, windowTokens)
      .select(col("h")).distinct().persist()
    try {
      val store = BatchStore.readExcept(batch.sparkSession, storePath, id, newHashes)
      BatchStore.write(
        Dedup.duplicatedSpansIncremental(batch, store, idCol, textCol, windowTokens),
        outPath, id)
      BatchStore.write(newHashes.join(store, Seq("h"), "left_anti"), storePath, id)
    } finally newHashes.unpersist(blocking = false)
  }
}
