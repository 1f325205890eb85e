package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Window-function operator family (reference §2.5 W1–W10).
  *
  * The reference computes all of its rolling metrics with ROWS-frame windows
  * over sparse daily series — "last 7 observations", NOT "last 7 calendar
  * days" (`sql/entity_weekly_rollup_v.sql:2-29`), and 30-day baselines as
  * `rows between 30 preceding and 1 preceding` (`sql/entity_anomalies_v.sql:4-23`).
  * Gaps-and-islands (consecutive-day episodes) is done imperatively in Python
  * (`dashboard_app/app.py:1602-1635`); here it is the classic lag + running-sum
  * group-id idiom — fully parallel, one shuffle on the partition key.
  *
  * Scale posture: every helper partitions by the entity key, so Spark shuffles
  * once on that key and all frames evaluate within a partition without
  * further exchange. Skewed entities (mega-brands) are bounded by days ×
  * metrics, not raw fact rows, because callers aggregate to the daily grain
  * first (see Rollups).
  */
object Windows {

  /** `partition by keys order by ord, tieBreak… rows between -(n-1) and
    * current` — trailing window of the last `n` observations including
    * current (W1). A ROWS frame takes its neighbours in sort order, so
    * `ord` plus `tieBreak` must order a partition totally: rows that tie
    * fall into each other's frames in whatever order they arrive. */
  def trailing(keys: Seq[String], ord: String, n: Int, tieBreak: String*): WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy((ord +: tieBreak).map(col): _*)
      .rowsBetween(-(n - 1), 0)

  /** `rows between `lo` preceding and `hi` preceding` — strictly-prior frame
    * for baselines (W2: lo=30 hi=1; W3 variants: 7/1 and 30/8); the order
    * must be total, as for [[trailing]]. */
  def priorFrame(keys: Seq[String], ord: String, lo: Int, hi: Int,
      tieBreak: String*): WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy((ord +: tieBreak).map(col): _*)
      .rowsBetween(-lo, -hi)

  /** Gaps-and-islands over a date column (W7): assigns an `episode` id that
    * increments whenever the day-gap to the previous row (per key) exceeds 1.
    * Input should be distinct on (keys, dateCol). */
  def withEpisodeId(df: DataFrame, keys: Seq[String], dateCol: String,
                    episodeCol: String = "episode"): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*).orderBy(col(dateCol))
    val gap = when(
      lag(col(dateCol), 1).over(byKey).isNull
        .or(datediff(col(dateCol), lag(col(dateCol), 1).over(byKey)) > 1), 1
    ).otherwise(0)
    df.withColumn(episodeCol,
      sum(gap).over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Consecutive-day episodes per key: (key, episode_start, episode_end,
    * episode_days). Reference computes this in a Python loop
    * (`dashboard_app/app.py:1602-1635`); this is the distributed equivalent. */
  def episodes(df: DataFrame, keys: Seq[String], dateCol: String): DataFrame = {
    val withId = withEpisodeId(df.select((keys :+ dateCol).map(col): _*).distinct(),
      keys, dateCol)
    withId
      .groupBy((keys :+ "episode").map(col): _*)
      .agg(
        min(col(dateCol)).as("episode_start"),
        max(col(dateCol)).as("episode_end"),
        count(lit(1)).as("episode_days"))
      .drop("episode")
  }

  /** Interval union (coalesce) per key: overlapping or touching
    * `[start, end]` intervals merge into maximal covered ranges — the
    * interval twin of [[episodes]] (which unions consecutive DAYS). The
    * classic sweep as windows: an interval opens a new merged range iff
    * its start lies strictly past the running max of all prior ends
    * (`cummax` over the start-sorted stream), range ids are the running
    * sum of those opens, one aggregate per merged range. Two window
    * passes + one aggregate over a single key-grain exchange; arithmetic
    * is pure comparisons on the native type (longs/dates), so any engine
    * replays it exactly.
    *
    * Output: `(keys…, u_start, u_end, n_intervals)` — coverage per merged
    * range; `SUM(u_end − u_start)` downstream is the key's total covered
    * length (dedup'd time-on-air, sensor uptime, span coverage). */
  def intervalUnion(
      df: DataFrame,
      keys: Seq[String],
      startCol: String,
      endCol: String): DataFrame = {
    require(!df.columns.exists(Set("__iu_open", "__iu_gid", "__iu_pmax")),
      "input must not contain reserved internal columns __iu_*")
    val byKey = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol))
      .over(byKey.rowsBetween(Window.unboundedPreceding, -1))
    df.where(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(startCol) <= col(endCol))
      .withColumn("__iu_open",
        when(prevMax.isNull.or(col(startCol) > prevMax), 1L).otherwise(0L))
      .withColumn("__iu_gid",
        sum(col("__iu_open"))
          .over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__iu_open")
      .groupBy((keys :+ "__iu_gid").map(col): _*)
      .agg(
        min(col(startCol)).as("u_start"),
        max(col(endCol)).as("u_end"),
        count(lit(1)).as("n_intervals"))
      .drop("__iu_gid")
  }

  /** Pagination (reference P9/O2: `limit/offset` with a separate total
    * count) as a BOUNDED top-k: `orderBy(...).limit(offset + pageSize)`
    * plans as TakeOrderedAndProject — a per-partition bounded heap + one
    * driver-side merge of offset+pageSize rows, never a full-table global
    * sort — and only then is the (tiny) page numbered by a window. The
    * naive global row_number window moves the ENTIRE input to one
    * partition; with capped offsets (ApiLimits) offset+pageSize is at most
    * a few thousand rows regardless of table size. */
  def paginate(df: DataFrame, order: Seq[Column], offset: Long, pageSize: Long,
               rnCol: String = "rn"): DataFrame = {
    // saturate: a pathological offset must not wrap Int and crash (the
    // reference leaves offset uncapped too — Postgres scans offset rows —
    // so the cost contract is the caller's ApiLimits clamp, but the crash
    // would be ours)
    val n = math.min(math.max(offset, 0L) + math.max(pageSize, 0L), Int.MaxValue.toLong).toInt
    val top = df.orderBy(order: _*).limit(n)
    // the window's input is the limit(n) above (<= offset+pageSize rows,
    // ApiLimits-capped), never the table. Numbering must be global for
    // page semantics; the constant partition key keeps that global order
    // while stating the bounded single partition is intentional.
    val w = Window.partitionBy(lit(0)).orderBy(order: _*)
    top.withColumn(rnCol, row_number().over(w))
      .filter(col(rnCol) > offset)
  }
}
