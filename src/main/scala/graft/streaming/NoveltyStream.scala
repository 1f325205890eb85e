package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous n-gram novelty monitoring — the streaming face of
  * [[graft.operators.Drift.ngramNovelty]]: each micro-batch (one crawl
  * drop / epoch) is reduced to its DISTINCT grams, probed against the
  * accumulated first-seen gram store, and added to it; the batch's
  * novelty row (distinct grams, first-ever-seen grams, floor-ppm novelty)
  * lands in a metrics sink as the drop arrives, not in a nightly batch.
  *
  * Parity contract (pinned in StreamingSpec): feeding epochs through in
  * ascending order yields exactly the batch `ngramNovelty` rows, because
  * "first corpus appearance is this epoch" ≡ "not in the store built
  * from all earlier epochs". Store and metrics are [[BatchStore]] roots
  * — restarts resume from the store, and a replayed batch writes its
  * novelty row and fresh grams once; at scale the store is the big side,
  * so the probe is a left-anti join of the batch's distinct-gram table
  * (small) against it.
  */
object NoveltyStream {

  def processBatch(
      storePath: String,
      metricsPath: String,
      epochCol: String,
      textCol: String,
      n: Int = 3)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val id = batchId.toString
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val grams = batch
      .select(col(epochCol).cast("long").as("epoch"), toks.as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("epoch"),
        explode(sequence(lit(1), size(col("__t")) - (n - 1))).as("__p"),
        col("__t"))
      .select(col("epoch"),
        array_join(slice(col("__t"), col("__p"), lit(n)), " ").as("gram"))
      .distinct()
      .persist()
    try {
      val store = BatchStore.readExcept(
        batch.sparkSession, storePath, id, grams.select(col("gram")))
      // a store-fresh gram spanning several epochs of one batch is "new"
      // only for its EARLIEST epoch — the batch operator's min-epoch
      // attribution, so multi-epoch batches telescope identically
      val fresh = grams.join(store, Seq("gram"), "left_anti")
        .groupBy("gram").agg(min(col("epoch")).as("epoch"))
        .persist()
      try {
        def floorDiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
          ((a - pmod(a, b)) / b).cast("long")
        BatchStore.write(
          grams.groupBy("epoch").agg(count(lit(1)).as("n_distinct"))
            .join(fresh.groupBy("epoch").agg(count(lit(1)).as("__new")), Seq("epoch"), "left")
            .select(col("epoch"),
              col("n_distinct"),
              coalesce(col("__new"), lit(0L)).as("n_new"))
            .withColumn("novelty_ppm",
              floorDiv(col("n_new") * 1000000L, col("n_distinct"))),
          metricsPath, id)
        BatchStore.write(fresh.select("gram"), storePath, id)
      } finally fresh.unpersist(blocking = false)
    } finally grams.unpersist(blocking = false)
  }
}
