package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Persisted, incrementally-appendable IVF index — the similarity-search
  * family's production posture (the batch operators q17/q171 rebuild the
  * index inside every query; a serving corpus ingests embeddings
  * continuously and probes the SAME index).
  *
  * Layout under `storePath`:
  *   - `codebook/` — `(cent_id, cent)` rows, FROZEN at
  *     [[buildCodebook]] time. The standard IVF contract: assignments
  *     are only comparable under one codebook, so drift is handled by
  *     an offline retrain + reindex, never by mutating a live codebook.
  *   - `postings/batch=<id>/bucket=<b>/` — `(id, vec)` rows. A
  *     [[BatchStore]] root, so replays are idempotent; the nested bucket
  *     partition means a probe with
  *     `nprobe` buckets reads exactly those directories — partition
  *     pruning IS the index at the storage layer.
  *
  * Re-delivery guard: an id already in the postings store drops (the
  * media-face rule — at-least-once sources re-deliver shipped assets;
  * an id-keyed left_anti against the column-pruned store id scan keeps
  * the index exactly-once at the asset grain).
  *
  * Parity contract (pinned in StreamingSpec): ingesting a corpus in ANY
  * batching and then probing the store returns bit-identically what
  * [[Similarity.ivfTopK]] answers on the whole corpus under the same
  * codebook — assignment is a pure per-row function of the frozen
  * centroids, and the probe replays the same scoring kernel. */
object IvfIndexStream {

  /** Train (or head-init) and FREEZE the codebook. Must run before the
    * first batch. `kmeansIters = 0` writes [[Similarity.headCentroids]]
    * as-is (the deterministic cheap init the q17 family uses). */
  def buildCodebook(
      corpus: DataFrame,
      storePath: String,
      idCol: String,
      vecCol: String,
      nlist: Int,
      kmeansIters: Int = 0): Unit = {
    val spark = corpus.sparkSession
    val cents =
      if (kmeansIters <= 0)
        Similarity.headCentroids(corpus, idCol, vecCol, nlist)
      else Similarity.trainCentroidsKMeans(
        corpus, idCol, vecCol, nlist, kmeansIters)
    import spark.implicits._
    cents.toDF("cent_id", "cent")
      .write.mode("overwrite").parquet(s"$storePath/codebook")
  }

  /** The frozen codebook as the driver-side literal the assignment and
    * probe kernels consume (nlist-bounded — the one driver collect). */
  def codebook(spark: SparkSession, storePath: String): Seq[(Int, Seq[Float])] =
    spark.read.parquet(s"$storePath/codebook")
      .orderBy("cent_id").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq

  def processBatch(
      storePath: String,
      idCol: String,
      vecCol: String)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val cents = codebook(spark, storePath)
    val postingsRoot = s"$storePath/postings"
    val assigned = batch
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("bucket",
        Similarity.nearestCentroid(spark, col("vec"), cents))
    val id = batchId.toString
    val seen = BatchStore.readExcept(spark, postingsRoot, id, assigned).select("id")
    val fresh = assigned.join(seen, Seq("id"), "left_anti")
    // cluster by bucket before the partitioned write: without the shuffle
    // every scan task emits one file per bucket it touches (tasks × nlist
    // files per batch — the classic small-files write); hash-clustered,
    // each bucket lands in exactly one task → ≤ nlist files per batch,
    // and the probe's partition-pruned reads open one file per (batch,
    // bucket). Row content unchanged.
    BatchStore.write(fresh.repartition(col("bucket")), postingsRoot, id, "bucket")
  }

  /** Probe the store: top-k cosine neighbors per query row over the
    * `nprobe` nearest buckets — the [[Similarity.ivfTopK]] kernel with
    * the bucketed corpus read from the postings store (bucket partition
    * pruning applies: only probed directories are scanned). */
  def query(
      spark: SparkSession,
      storePath: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = codebook(spark, storePath)
    val postings = BatchStore.read(spark, s"$storePath/postings")
      .select(col("id").as("neighbor_id"), col("vec"),
        col("bucket").cast("int").as("bucket"))
    val probes = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qvec"))
      .withColumn("bucket",
        explode(Similarity.probeBuckets(spark, col("qvec"), cents, nprobe)))
    val scored = postings.join(broadcast(probes), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.plans.GraftExtensions
          .cosine(spark, col("qvec"), col("vec")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
