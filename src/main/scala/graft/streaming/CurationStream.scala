package graft.streaming

import graft.pipeline.CurationPipeline
import org.apache.spark.sql.DataFrame

/** Continuous-ingest face of the curation pipeline: each micro-batch runs
  * the full [[graft.pipeline.CurationPipeline.runBatch]] chain (scrub →
  * exact/minhash/span incremental dedup → quality gate → mixing → curated
  * append) against the same parquet store state the offline job uses.
  *
  * The pipeline's restartability contract IS the streaming exactly-once
  * story: batch ids derive from the checkpointed micro-batch id, every
  * write lands in a [[BatchStore]] batch-owned partition, and the manifest
  * commit marker makes a replayed micro-batch (failure between sink write
  * and checkpoint advance) a no-op skip instead of a duplicate append. A
  * stream and an offline job can even ALTERNATE on one base dir — state
  * lives entirely in the stores, not in Spark streaming state.
  *
  * Online-by-construction: a document is deduplicated against what
  * arrived BEFORE it; an earlier near-dup is not retroactively dropped
  * when its twin arrives later (same semantics as the offline incremental
  * chain on the same prefix — parity pinned in StreamingSpec).
  */
object CurationStream {

  /** Batch-id prefix keeps streaming partitions distinct from offline
    * ones when both feed one base dir. */
  def batchId(prefix: String, id: Long): String = s"$prefix$id"

  def processBatch(cfg: CurationPipeline.Config, prefix: String)(
      batch: DataFrame, id: Long): Unit = {
    if (batch.isEmpty) return
    CurationPipeline.runBatch(
      batch.sparkSession, batch, batchId(prefix, id), cfg)
    ()
  }

  /** MEDIA twin of [[processBatch]]: each micro-batch of media payloads
    * runs the full [[graft.pipeline.CurationPipeline.runMediaBatch]]
    * chain (real-codec decode → perceptual fingerprint → band-store
    * probe → manifest drop) against the same parquet store state the
    * offline media job uses; the media manifest commit marker makes a
    * replayed micro-batch a no-op skip — the identical exactly-once
    * story, on the media namespaces. */
  def processMediaBatch(cfg: CurationPipeline.Config, prefix: String)(
      batch: DataFrame, id: Long): Unit = {
    if (batch.isEmpty) return
    CurationPipeline.runMediaBatch(
      batch.sparkSession, batch, batchId(prefix, id), cfg)
    ()
  }
}
