package graft.gold

import java.sql.Date

/** Incremental override-refresh orchestration — the engine's answer to the
  * reference's `_refresh_after_override` (`dashboard_app/app.py:6106-6213`):
  * after an override write, only the gold tables DOWNSTREAM of the touched
  * mention type are recomputed, and only for the touched date partitions.
  *
  * The reference re-runs each affected materialized view in full under an
  * advisory lock (Postgres REFRESH has no partition grain) and queues a
  * follow-up full refresh when the lock is busy. Here the override refresh
  * is the full refresh ([[GoldRefresh]]) over the affected tables and over
  * bronze restricted to the touched dates: its dynamic partition overwrite
  * replaces exactly those date partitions and never rewrites the others'
  * files, and the affected tables are written as concurrent Spark jobs (the
  * four serp-feature tables of a `serp_feature_item` edit at once), failing
  * only after every write has ended. Writers need no lock, but readers are
  * not isolated: a read that lists a partition while it is being replaced
  * can fail with `FAILED_READ_FILE.FILE_NOT_EXIST` (see [[GoldRefresh]]).
  *
  * Faithfulness note: for article overrides the reference refreshes only
  * `article_daily_counts_mv` and clears the negative-summary CACHE — the
  * negative_summary MV itself stays stale until the next ingest-path
  * refresh. The dependency map mirrors that exactly.
  */
object OverrideRefresh {

  /** mention_type → affected gold tables (`app.py:6137-6176`). */
  val Dependencies: Map[String, Seq[String]] = Map(
    "company_article" -> Seq("article_daily_counts"),
    "ceo_article" -> Seq("article_daily_counts"),
    "serp_feature_item" -> Seq(
      "serp_feature_daily", "serp_feature_control_daily",
      "serp_feature_daily_index", "serp_feature_control_daily_index"),
    "serp_result" -> Seq("serp_daily_counts"))

  /** Recompute the tables downstream of `mentionType` for the touched
    * `dates` in place under `base/<name>` (same layout as
    * [[GoldRefresh.refreshToParquet]]) — the (entity x date-range) contract
    * resolved to Spark's natural partition grain: a date partition holds
    * every entity, so the overridden entity's peers in that partition are
    * recomputed too, from the same pruned scan. Returns per-table wall times
    * in [[Dependencies]] order; they overlap. */
  def refreshAfterOverride(
      in: GoldRefresh.BronzeInputs,
      base: String,
      mentionType: String,
      dates: Seq[Date]): Seq[(String, Double)] = {
    val affected = Dependencies.getOrElse(mentionType,
      throw new IllegalArgumentException(s"unknown mention_type: $mentionType"))
    GoldRefresh.refresh(in.on(dates), base, affected)
  }
}
