package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous Bradley–Terry re-fitting — the streaming face of
  * [[graft.operators.Preference.bradleyTerryFixedPoint]] (q250): each
  * micro-batch of judgment rows is reduced to its (winner, loser) pair
  * counts and written to a counts store, so the store grows at the
  * pair grain (≤ |items|² rows per batch), never the judgment grain —
  * the 100 TB judgment firehose is aggregated once on arrival and
  * never re-read. A strength fit is then available at any moment by
  * running the MM recurrence over the summed store
  * ([[graft.operators.Preference.bradleyTerryFromCounts]]).
  *
  * Parity contract (pinned in StreamingSpec): pair counts add
  * associatively and the fit is a pure function of the total counts,
  * so feeding the same judgments in ANY batching and ANY order yields
  * bit-identically the batch operator's output. The store is a
  * [[BatchStore]] root — restarts resume from it, and a replayed batch
  * cannot count its judgments twice; duplicate (winner, loser) rows across
  * drops are summed at fit time, so no per-batch merge pass is needed. */
object PreferenceStream {

  def processBatch(
      storePath: String,
      winnerCol: String,
      loserCol: String)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    BatchStore.write(batch
      .groupBy(col(winnerCol).cast("long").as("winner"),
        col(loserCol).cast("long").as("loser"))
      .agg(count(lit(1)).as("n")),
      storePath, batchId.toString)
  }

  /** Fit over everything ingested so far — equals the batch
    * [[graft.operators.Preference.bradleyTerryFixedPoint]] over the
    * union of all delivered judgments. */
  def strengths(
      spark: SparkSession,
      storePath: String,
      iterations: Int = 5,
      scale: Long = 1000000L): DataFrame =
    graft.operators.Preference.bradleyTerryFromCounts(
      BatchStore.read(spark, storePath), "winner", "loser", "n",
      iterations, scale)
}
