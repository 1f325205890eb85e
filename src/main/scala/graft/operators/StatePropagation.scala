package graft.operators

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** W11 / K5: previous-day active-state propagation — the one genuinely
  * sequential operator in the reference (crisis-event trigger machine,
  * `dashboard_app/crisis_event_rollups.py:541-561,639-645,683-721`):
  *
  *   active(d) = start(d) OR (continue(d) AND active(d - 1 day))
  *
  * with the chain broken on calendar gaps (a missing day resets prev_active).
  * `lag(active)` cannot express this — active is defined recursively — so the
  * reference-faithful implementation is a per-key sorted traversal:
  * `groupByKey(...).flatMapGroups` over day-sorted rows.
  *
  * Scale posture: one shuffle on the entity key; each group is bounded by
  * days-in-range (the reference recomputes bounded windows,
  * `crisis_event_rollups.py:725-754`), so the sequential scan per group is
  * tiny even when the fact table is 100 TB — the heavy reduction to daily
  * grain happens before this operator.
  *
  * A closed form exists (running max of `start` within C-segments of
  * consecutive-day islands) and is used as the differential ORACLE for this
  * kernel — see SparkEntry q20's DuckDB SQL — but the library ships the
  * sequential version because the reference's full trigger machine carries
  * extra per-day state (trigger provenance, episode ids) that the closed form
  * cannot.
  */
object StatePropagation {

  /** Input df must have one row per (keys, dateCol); startCol / continueCol
    * are boolean columns. Output = input columns + `active` boolean +
    * `episode_day` (1-based position in the current active streak, 0 when
    * inactive). */
  def propagateActive(
      df: DataFrame,
      keys: Seq[String],
      dateCol: String,
      startCol: String,
      continueCol: String): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = inSchema
      .add("active", BooleanType, nullable = false)
      .add("episode_day", IntegerType, nullable = false)
    val keyIdx = keys.map(inSchema.fieldIndex)
    val dateIdx = inSchema.fieldIndex(dateCol)
    val startIdx = inSchema.fieldIndex(startCol)
    val contIdx = inSchema.fieldIndex(continueCol)

    val keyEnc = Encoders.STRING
    val outEnc = RowEncoder.encoderFor(outSchema)

    df.groupByKey(r => keyIdx.map(i => String.valueOf(r.get(i))).mkString(""))(keyEnc)
      .flatMapGroups { (_, rows) =>
        val sorted = rows.toArray.sortBy(_.getAs[Date](dateIdx).toLocalDate.toEpochDay)
        var prevActive = false
        var prevEpoch = Long.MinValue
        var streak = 0
        sorted.iterator.map { r =>
          val epoch = r.getAs[Date](dateIdx).toLocalDate.toEpochDay
          if (prevEpoch != Long.MinValue && epoch - prevEpoch > 1) prevActive = false
          val s = r.getAs[Boolean](startIdx)
          val c = r.getAs[Boolean](contIdx)
          val active = s || (c && prevActive)
          streak = if (active) (if (prevActive && epoch - prevEpoch == 1) streak + 1 else 1) else 0
          prevActive = active
          prevEpoch = epoch
          Row.fromSeq(r.toSeq :+ active :+ streak)
        }
      }(outEnc)
      .toDF(outSchema.fieldNames.toIndexedSeq: _*)
  }
}
