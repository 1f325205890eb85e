package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous distribution-drift monitoring — the streaming face of
  * [[graft.operators.Drift.ksTwoSample]]: a frozen BASELINE distribution
  * (its value-grain counts, persisted once — e.g. the distribution the
  * quality gates were tuned on) is probed by every incoming drop; each
  * micro-batch writes one (epoch, n_batch, ks_ppm) row to the metrics
  * sink the moment the drop lands. The alarm wire for "this crawl looks
  * nothing like what the pipeline was calibrated for" — BEFORE the drop
  * is mixed in.
  *
  * Parity contract (pinned in StreamingSpec): each batch's row equals
  * the batch-side `ksTwoSample(batch, baseline)` — the metric is
  * per-drop against a FROZEN baseline, so batching/order can't change
  * it (unlike pooled statistics, no telescoping argument is needed).
  * State: the baseline parquet is written once if absent (from the
  * FIRST batch, the self-calibrating mode) or pre-seeded by the caller;
  * restarts re-read it. The metrics sink is a [[BatchStore]] root, so a
  * replayed batch writes its rows once. Multi-epoch batches emit one row
  * per contained epoch. */
object DriftStream {

  /** Persist `df`'s value-grain counts as a baseline (idempotent
    * overwrite). */
  def writeBaseline(df: DataFrame, valCol: String, baselinePath: String): Unit =
    df.groupBy(col(valCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(baselinePath)

  def processBatch(
      baselinePath: String,
      metricsPath: String,
      epochCol: String,
      valCol: String)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    if (!BatchStore.exists(spark, baselinePath)) {
      // self-calibrating mode: the first drop ever seen IS the baseline
      DriftStream.writeBaseline(batch, valCol, baselinePath)
    }
    val baseline = spark.read.parquet(baselinePath)
    val epochs = batch.select(col(epochCol).cast("long").as("__ep"))
      .distinct().collect().map(_.getLong(0)).sorted
    val rows = epochs.toSeq.map { ep =>
      val epGrain = batch.filter(col(epochCol).cast("long") === ep)
        .groupBy(col(valCol).cast("long").as("v"))
        .agg(count(lit(1)).as("c"))
      graft.operators.Drift.ksTwoSampleGrains(epGrain, baseline)
        .select(lit(ep).as("epoch"), col("n_a").as("n_batch"), col("ks_ppm"))
    }
    BatchStore.write(rows.reduce(_ unionByName _), metricsPath, batchId.toString)
  }
}
