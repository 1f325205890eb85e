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
  * overlap and no longer sum to the refresh. The 7 writes are separate jobs
  * with their own output directories and commits: at cluster scale
  * their stages fill the executors while another table's job is in its
  * driver-side phases (planning, codegen, broadcasts, partition commit) or
  * its straggler tail, and on a small input, where each write is mostly
  * that fixed cost, the refresh takes about as long as its slowest table
  * rather than the sum. A failed write fails the refresh only after every
  * other write has ended.
  *
  * Each fact family is resolved once per refresh, by the shared stages of
  * [[GoldTables]]: one entity-dims frame, one effective-mentions projection
  * (read by `article_daily_counts` and `negative_summary`) and one
  * effective-items projection (read by the four serp-feature MVs). Spark
  * shares no subplans across jobs, so a projection that two or more of the
  * refreshed tables read is persisted for the refresh; one read by a single
  * table is left in that table's plan, and one no table reads is never
  * planned (an article or serp-result override refresh persists nothing).
  * The dims, two tiny tables, are broadcast once per fact family instead.
  * A shared stage is persisted before the writes are submitted, and its
  * cache blocks are built by the first reader's tasks while the other
  * readers wait on them. Every shared stage is unpersisted once every write
  * has ended, never while one may still read it.
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

  /** The shared stages over one set of inputs ([[GoldTables]]' scale
    * notes). Each is a lazy val, so it is one frame per refresh and is
    * planned only when a table reads it: a refresh whose tables read no
    * feature items never plans them. */
  private final class Stages(in: BronzeInputs) {
    lazy val dims: DataFrame = GoldTables.entityDims(in.companies, in.ceos)
    lazy val mentions: DataFrame = GoldTables.effectiveMentions(in.companyMentionsDaily,
      in.ceoMentionsDaily, dims, in.companyArticleOverrides, in.ceoArticleOverrides)
    lazy val featureItems: DataFrame = GoldTables.featureItemsEffective(
      in.serpFeatureItems, in.serpFeatureItemOverrides, in.serpFeatureUrlOverrides)
  }

  /** The 7 gold tables in the reference's refresh order: each with the
    * shared stage it reads and its build from the inputs and that stage.
    * This is the only record of which table reads which stage. */
  private val Tables: Seq[(String, Stages => DataFrame, (BronzeInputs, DataFrame) => DataFrame)] =
    Seq(
      ("serp_feature_daily", _.featureItems,
        (_, items) => GoldTables.serpFeatureSentiment(items, GoldTables.EntityGrain)),
      ("serp_feature_control_daily", _.featureItems,
        (_, items) => GoldTables.serpFeatureControl(items, GoldTables.EntityGrain)),
      ("serp_feature_daily_index", _.featureItems,
        (_, items) => GoldTables.serpFeatureSentiment(items, GoldTables.IndexGrain)),
      ("serp_feature_control_daily_index", _.featureItems,
        (_, items) => GoldTables.serpFeatureControl(items, GoldTables.IndexGrain)),
      ("article_daily_counts", _.mentions, (_, m) => GoldTables.articleDailyCounts(m)),
      ("serp_daily_counts", _.dims,
        (in, dims) => GoldTables.serpDailyCounts(in.serpRuns, in.serpResults,
          in.serpResultOverrides, dims)),
      ("negative_summary", _.mentions,
        (in, m) => GoldTables.negativeSummary(m, in.companyMentions, in.ceoMentions,
          in.articles)))

  /** All 7 gold tables in the reference's refresh order as (table name,
    * DataFrame), with nothing persisted. */
  def rebuildAll(in: BronzeInputs): Seq[(String, DataFrame)] = {
    val stages = new Stages(in)
    Tables.map { case (name, stage, build) => name -> build(in, stage(stages)) }
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
    * description `gold refresh: <name>`. A shared stage that two or more of
    * `names` read is persisted before the writes are submitted. Waits for
    * every write; if any failed, rethrows the first failure in `names` order
    * once all have ended, and only then unpersists the shared stages.
    * Returns per-table wall times in the order of `names`; they overlap. */
  private[gold] def refresh(
      in: BronzeInputs, base: String, names: Seq[String]): Seq[(String, Double)] = {
    val stages = new Stages(in)
    val tables = Tables.map(t => t._1 -> t).toMap
    val reads = names.map(name => tables(name)._2(stages))
    val shared = reads.distinct.filter(stage => reads.count(_ eq stage) >= 2)
    shared.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    val pool = Executors.newFixedThreadPool(names.size)
    try {
      val writes = names.zip(reads).map { case (name, stage) =>
        pool.submit(new Callable[(String, Double)] {
          def call(): (String, Double) = {
            in.companies.sparkSession.sparkContext.setJobDescription(s"gold refresh: $name")
            val df = tables(name)._3(in, stage)
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
      shared.foreach(_.unpersist()) // no shared stage may outlive the refresh
    }
  }
}
