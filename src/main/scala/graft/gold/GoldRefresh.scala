package graft.gold

import java.sql.Date
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Gold-layer refresh — the engine's answer to the reference's
  * `POST /api/internal/refresh_aggregates` (`dashboard_app/app.py:5849-5896`),
  * which refreshes six materialized views synchronously inside one advisory-
  * lock section (negative_summary_mv refreshes on the ingest path). Each gold
  * table is rebuilt as a DataFrame and written `partitionBy("date")` with
  * dynamic partition overwrite, so only the date partitions present in the
  * rebuilt frame are replaced. The override refresh ([[OverrideRefresh]]) is
  * this same refresh over fewer tables and date-restricted inputs.
  *
  * Concurrent writers of distinct date partitions are safe: the overwrite
  * mode is a per-write option, not session state. Concurrent READERS are
  * not: the overwrite deletes a partition's files before moving the new ones
  * in, so a read that listed the old files fails with
  * `FAILED_READ_FILE.FILE_NOT_EXIST`. Readers get no snapshot yet.
  *
  * The reference refreshes its views one after another inside its lock;
  * here each table's build and write is its own Spark job, all submitted at
  * once from one driver thread per table, so the per-table wall times
  * overlap and no longer sum to the refresh. The 7 tables are independent
  * DAGs with their own output directories and commits: at cluster scale
  * their stages fill the executors while another table's job is in its
  * driver-side phases (planning, codegen, broadcasts, partition commit) or
  * its straggler tail, and on a small input, where each write is mostly
  * that fixed cost, the refresh takes about as long as its slowest table
  * rather than the sum. A failed write fails the refresh only after every
  * other write has ended.
  *
  * The four serp-feature MVs all derive from the same effective-items
  * projection (override coalesce chains applied at item grain); a refresh
  * computes it ONCE and persists it for the batch — Spark shares no
  * subplans across builders, and at 100 TB recomputing the override-join
  * four times is the difference between one shuffle and four. It is
  * unpersisted once every write has ended, never while one may still read
  * it.
  */
object GoldRefresh {

  /** Bronze/silver inputs for a full rebuild (reference-schema tables). */
  final case class BronzeInputs(
      companies: DataFrame,
      ceos: DataFrame,
      articles: DataFrame,
      companyMentions: DataFrame,
      ceoMentions: DataFrame,
      companyMentionsDaily: DataFrame,
      ceoMentionsDaily: DataFrame,
      companyArticleOverrides: DataFrame,
      ceoArticleOverrides: DataFrame,
      serpRuns: DataFrame,
      serpResults: DataFrame,
      serpResultOverrides: DataFrame,
      serpFeatureItems: DataFrame,
      serpFeatureItemOverrides: DataFrame,
      serpFeatureUrlOverrides: DataFrame) {

    /** These inputs with the date-grained tables restricted to `dates`, so
      * every builder emits exactly those date partitions. Dimensions,
      * overrides and mention-grain tables stay whole: the builders join them
      * to the restricted facts. */
    def on(dates: Seq[Date]): BronzeInputs = {
      def touched(c: Column) = c.isin(dates.map(lit): _*)
      copy(
        companyMentionsDaily = companyMentionsDaily.filter(touched(col("date"))),
        ceoMentionsDaily = ceoMentionsDaily.filter(touched(col("date"))),
        serpRuns = serpRuns.filter(touched(to_date(col("run_at")))),
        serpFeatureItems = serpFeatureItems.filter(touched(col("date"))))
    }
  }

  /** The 7 gold tables in the reference's refresh order, each built from the
    * inputs and the effective-items projection. */
  private val Tables: Seq[(String, (BronzeInputs, DataFrame) => DataFrame)] = Seq(
    "serp_feature_daily" ->
      ((_, eff) => GoldTables.serpFeatureSentiment(eff, GoldTables.EntityGrain)),
    "serp_feature_control_daily" ->
      ((_, eff) => GoldTables.serpFeatureControl(eff, GoldTables.EntityGrain)),
    "serp_feature_daily_index" ->
      ((_, eff) => GoldTables.serpFeatureSentiment(eff, GoldTables.IndexGrain)),
    "serp_feature_control_daily_index" ->
      ((_, eff) => GoldTables.serpFeatureControl(eff, GoldTables.IndexGrain)),
    "article_daily_counts" ->
      ((in, _) => GoldTables.articleDailyCounts(in.companyMentionsDaily, in.ceoMentionsDaily,
        in.companies, in.ceos, in.companyArticleOverrides, in.ceoArticleOverrides)),
    "serp_daily_counts" ->
      ((in, _) => GoldTables.serpDailyCounts(in.serpRuns, in.serpResults,
        in.serpResultOverrides, in.companies, in.ceos)),
    "negative_summary" ->
      ((in, _) => GoldTables.negativeSummary(in.companyMentionsDaily, in.ceoMentionsDaily,
        in.companyMentions, in.ceoMentions, in.companies, in.ceos, in.articles,
        in.companyArticleOverrides, in.ceoArticleOverrides)))

  private def effective(in: BronzeInputs): DataFrame = GoldTables.featureItemsEffective(
    in.serpFeatureItems, in.serpFeatureItemOverrides, in.serpFeatureUrlOverrides)

  /** All 7 gold tables in the reference's refresh order as (table name,
    * DataFrame), with nothing persisted. */
  def rebuildAll(in: BronzeInputs): Seq[(String, DataFrame)] = {
    val eff = effective(in)
    Tables.map { case (name, build) => name -> build(in, eff) }
  }

  /** Rebuild and write every gold table under `base/<name>`. Returns
    * per-table wall times in refresh order; they overlap. */
  def refreshToParquet(in: BronzeInputs, base: String): Seq[(String, Double)] =
    refresh(in, base, Tables.map(_._1))

  /** Rebuild the tables `names` from `in` and write each under `base/<name>`
    * partitioned by date with dynamic partition overwrite. Each table's build
    * and write is its own Spark job, submitted from its own thread of a pool
    * of `names.size` threads created by the caller, so every job inherits the
    * caller's local properties (job group, scheduler pool) and carries the
    * description `gold refresh: <name>`. Waits for every write; if any
    * failed, rethrows the first failure in `names` order once all have
    * ended, and only then unpersists the shared projection. Returns per-table
    * wall times in the order of `names`; they overlap. */
  private[gold] def refresh(
      in: BronzeInputs, base: String, names: Seq[String]): Seq[(String, Double)] = {
    val eff = effective(in).persist(StorageLevel.MEMORY_AND_DISK)
    val pool = Executors.newFixedThreadPool(names.size)
    try {
      val builders = Tables.toMap
      val writes = names.map { name =>
        pool.submit(new Callable[(String, Double)] {
          def call(): (String, Double) = {
            eff.sparkSession.sparkContext.setJobDescription(s"gold refresh: $name")
            val df = builders(name)(in, eff)
            val t0 = System.nanoTime()
            df.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("date").parquet(s"$base/$name")
            name -> (System.nanoTime() - t0) / 1e9
          }
        })
      }
      writes.map(w => try w.get() catch { case e: ExecutionException => throw e.getCause })
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      eff.unpersist() // the shared intermediate must not outlive the refresh
    }
  }
}
