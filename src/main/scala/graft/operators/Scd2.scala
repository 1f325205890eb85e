package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2 (slowly-changing-dimension type 2) interval builder: turn a change
  * stream `(keys, ts, state...)` into validity intervals
  * `(keys, state..., valid_from, valid_to, is_current)` — one row per state
  * CHANGE, `valid_to` exclusive (= next change's ts, null while current).
  *
  * Reference analogue: `latest_overrides` / `items_effective`
  * (`sql/schema.sql` override history) keep only the latest override per
  * key; SCD2 is the full-history generalization a warehouse needs for
  * point-in-time correctness (and the natural build-side of
  * [[AsofJoin]] / [[RangeJoin.pointsInIntervals]]).
  *
  * Plan shape: ONE hash shuffle on `keys` and one in-partition sort on
  * `(ts, state desc)` shared by all three window passes (same-ts dedup lag,
  * dup-collapse lag, valid_to lead — filters preserve partitioning and
  * ordering, so Spark plans a single Exchange+Sort; pinned in
  * OperatorsSpec). A groupBy-(keys, ts) dedup would map-side-combine but
  * costs a second shuffle — change logs rarely duplicate a timestamp, so
  * the windowed dedup wins. Per-key memory is the key's change count; no
  * driver-side state.
  *
  * Determinism: rows on the same (keys, ts) keep the max state struct
  * (first in the `state desc` sort — put a unique/monotonic column first
  * in `stateCols` to make that tie-break total); consecutive duplicate
  * states compare null-safely, so a state column that is null in both rows
  * still counts as "unchanged".
  */
object Scd2 {

  def buildIntervals(
      changes: DataFrame,
      keys: Seq[String],
      tsCol: String,
      stateCols: Seq[String]): DataFrame = {
    require(stateCols.nonEmpty, "stateCols must be non-empty")
    // __-prefixed names are internal (`__s/__pt/__prev`) and the three
    // interval columns are produced by this operator — an input column with
    // any of those names would be silently clobbered; refuse instead
    val reserved = (keys ++ stateCols :+ tsCol).filter(c =>
      c.startsWith("__") || c == "valid_from" || c == "valid_to" || c == "is_current")
    require(reserved.isEmpty,
      s"column names may not start with '__' or shadow interval outputs: ${reserved.toSet}")
    val withS = changes.select(
      (keys.map(col) :+ col(tsCol) :+ struct(stateCols.map(col): _*).as("__s")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__s").desc)
    withS
      // same-ts dedup: the first row of each ts group is the max state
      .withColumn("__pt", lag(col(tsCol), 1).over(w))
      .filter(col("__pt").isNull || col("__pt") =!= col(tsCol))
      // collapse consecutive duplicate states (change log -> changes only)
      .withColumn("__prev", lag(col("__s"), 1).over(w))
      .filter(col("__prev").isNull || !(col("__prev") <=> col("__s")))
      // the next surviving change closes this interval (exclusive)
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(keys.map(col) ++
        stateCols.map(c => col(s"__s.$c").as(c)) ++
        Seq(col(tsCol).as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current")): _*)
  }

  /** Incremental SCD2 maintenance — the reference's touched-partition
    * refresh pattern (`gold/OverrideRefresh`) applied to the interval
    * table: after appending a batch to the change LOG, recompute intervals
    * ONLY for the keys the batch touched (one pruned log scan + one window
    * over the touched keys' timelines) and pass every other key's rows
    * through untouched.
    *
    * The rebuild reads the change log, not the interval table, on purpose:
    * replaying collapsed intervals is lossy under late-arriving data — a
    * log `(t1,A),(t2,A)` collapses to one interval at t1, and a late
    * change `(t1.5,B)` must resurrect A at t2, which only the log still
    * knows about. The log is append-only source of truth; intervals are a
    * derived gold table (same bronze→gold contract as the rest of the
    * repo).
    *
    * @param existing   current interval table (output shape of
    *                   [[buildIntervals]])
    * @param changeLog  the FULL change log, including the new batch
    * @param newChanges the appended batch (defines the touched key set)
    */
  def refreshKeys(
      existing: DataFrame,
      changeLog: DataFrame,
      newChanges: DataFrame,
      keys: Seq[String],
      tsCol: String,
      stateCols: Seq[String]): DataFrame = {
    val touched = newChanges.select(keys.map(col): _*).distinct()
    val rebuilt = buildIntervals(
      changeLog.join(touched, keys, "left_semi"), keys, tsCol, stateCols)
    existing.join(touched, keys, "left_anti").unionByName(rebuilt)
  }

  /** Key-hash bucket column for partitioning an SCD2 interval table on
    * disk — SCD2 tables have no date grain, so the physical refresh unit
    * is a hash bucket of the key space. */
  def bucketOf(keys: Seq[String], nBuckets: Int): Column =
    pmod(hash(keys.map(col): _*), lit(nBuckets))

  /** Physical incremental refresh: rebuild only the hash-bucket partitions
    * containing touched keys, from the (bucket-pruned) change log, and
    * dynamic-partition-overwrite them in place — untouched buckets' files
    * are never rewritten (byte-stable, pinned in Scd2IncrementalSpec).
    * A bucket holds many keys and the whole bucket is recomputed — same
    * trade as OverrideRefresh's date grain (the peers ride the same pruned
    * scan for free). */
  def refreshBucketsToParquet(
      path: String,
      changeLog: DataFrame,
      newChanges: DataFrame,
      keys: Seq[String],
      tsCol: String,
      stateCols: Seq[String],
      nBuckets: Int = 64): Unit = {
    val b = bucketOf(keys, nBuckets)
    val touchedB = newChanges.select(b.as("__bucket")).distinct()
    val prunedLog = changeLog.withColumn("__bucket", b)
      .join(touchedB, Seq("__bucket"), "left_semi")
      .drop("__bucket")
    val rebuilt = buildIntervals(prunedLog, keys, tsCol, stateCols)
      .withColumn("__bucket", b)
    rebuilt.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(path)
  }
}
