package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous seasonal anomaly monitoring — the streaming face of
  * [[graft.operators.Seasonal.weeklyRobustAnomalies]]: the per-(series,
  * day-of-week) median baseline and per-series residual MAD gates are
  * computed ONCE from history and frozen to parquet; every incoming daily
  * row is then scored against them the moment it lands (the ops wire for
  * "today's traffic is off even accounting for it being Saturday").
  *
  * Parity contract (pinned in StreamingSpec): each batch's written rows
  * equal the batch-side broadcast-join of the same rows against the same
  * frozen baseline — per-row scoring against frozen state, so batching
  * and arrival order cannot change any flag (the DriftStream argument).
  * Rows whose (series, dow) never occurred in history carry null
  * expected/flag — surfaced, not dropped (a brand-new series IS a
  * finding). Restarts re-read the baseline parquet; the metrics sink is a
  * [[BatchStore]] root, so a replayed batch writes its rows once.
  */
object SeasonalStream {

  /** Freeze the baseline from a history of daily rows: per-(series, dow)
    * `expected` plus the per-series `med_resid`/`mad` residual gates —
    * exactly the intermediates of the batch operator (exact-median
    * kernel). Idempotent overwrite. */
  def writeBaseline(
      history: DataFrame,
      seriesCol: String,
      dayCol: String,
      valueCol: String,
      baselinePath: String): Unit = {
    val keyed = history.select(
      col(seriesCol).as("series"), col(dayCol).as("day"),
      col(valueCol).cast("double").as("v"))
      .withColumn("__k", concat(col("series"), lit(":"), pmod(col("day"), lit(7L))))
    val expected = graft.operators.Profiling.exactMedianByKey(keyed, "__k", "v")
      .withColumnRenamed("median", "expected")
    val resid = keyed.join(expected, Seq("__k"))
      .withColumn("residual", col("v") - col("expected"))
    val medResid = graft.operators.Profiling
      .exactMedianByKey(resid, "series", "residual")
      .withColumnRenamed("median", "med_resid")
    val r2 = resid.join(medResid, Seq("series"))
      .withColumn("__absdev", abs(col("residual") - col("med_resid")))
    val mad = graft.operators.Profiling.exactMedianByKey(r2, "series", "__absdev")
      .withColumnRenamed("median", "mad")
    keyed
      .select(col("series"), pmod(col("day"), lit(7L)).as("dow"), col("__k"))
      .distinct()
      .join(expected, Seq("__k"))
      .select(col("series"), col("dow"), col("expected"))
      .join(medResid, Seq("series"))
      .join(mad, Seq("series"))
      .write.mode("overwrite").parquet(baselinePath)
  }

  /** Score one micro-batch of daily rows against the frozen baseline and
    * write `(series, day, v, expected, residual, is_anomaly)` as the
    * batch's metrics partition. Unknown (series, dow) rows emit null
    * expected/flag. */
  def processBatch(
      baselinePath: String,
      metricsPath: String,
      seriesCol: String,
      dayCol: String,
      valueCol: String)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val baseline = batch.sparkSession.read.parquet(baselinePath)
    BatchStore.write(scoreAgainst(batch, baseline, seriesCol, dayCol, valueCol),
      metricsPath, batchId.toString)
  }

  /** The per-row scoring join — shared by the stream and its batch-parity
    * spec. */
  def scoreAgainst(
      rows: DataFrame,
      baseline: DataFrame,
      seriesCol: String,
      dayCol: String,
      valueCol: String): DataFrame =
    rows.select(col(seriesCol).as("series"), col(dayCol).as("day"),
      col(valueCol).cast("double").as("v"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
      .join(broadcast(baseline), Seq("series", "dow"), "left")
      .select(col("series"), col("day"), col("v"), col("expected"),
        (col("v") - col("expected")).as("residual"),
        (abs(col("v") - col("expected") - col("med_resid")) >
          lit(3.0) * col("mad")).as("is_anomaly"))
}
