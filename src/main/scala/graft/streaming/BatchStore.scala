package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one micro-batch store protocol behind every `foreachBatch` stream and
  * the [[graft.pipeline.CurationPipeline]] faces: BATCH-OWNED PARTITIONS.
  *
  * Every store and output sink is a root of `batch=<id>/` directories. A
  * batch writes only its own directory and overwrites it whole, and the
  * batch's reads of a store skip its own directory. `foreachBatch` is
  * at-least-once: a crash between a sink write and the checkpoint commit
  * replays the batch under the same id. The replay reads what the first run
  * read and overwrites what the first run wrote, so the stores and outputs
  * after a replay hold exactly the rows of a crash-free run. An append sink
  * would hold the batch twice.
  *
  * Batches are a SERIAL log per root: only the running batch's own
  * directory can be partial, and that is the one its reads skip.
  *
  * Existence checks go through Hadoop's `FileSystem`, never `java.io.File`:
  * on HDFS/S3 a local-file check is always false and would reset a store to
  * empty on every batch.
  */
object BatchStore {

  private def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = resolve(spark, path)
    fs.exists(p)
  }

  /** Every row under `root`, without the `batch` partition column. */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(root).drop("batch")

  /** The store as the running batch must see it: every committed batch's
    * rows, never the running batch's own (possibly partial) partition, and
    * no `batch` column; `like.limit(0)` when nothing else is there yet.
    *
    * The partition is excluded by its directory name rather than by a
    * filter on the inferred `batch` column: the name compare is exact for
    * any id (a numeric-looking id would infer a numeric column; a
    * `batch=legacy` partition turns it into a string), and a first batch
    * that crashed before committing any file replays against an empty
    * store instead of failing schema inference on a root with no files. */
  def readExcept(
      spark: SparkSession,
      root: String,
      batchId: String,
      like: DataFrame): DataFrame = {
    val others =
      if (!exists(spark, root)) Nil
      else {
        migrateFlatStore(spark, root)
        val (fs, p) = resolve(spark, root)
        fs.listStatus(p).toSeq.map(_.getPath.getName)
          .filter(n => n.startsWith("batch=") && n != s"batch=$batchId")
          .sorted
      }
    if (others.isEmpty) like.limit(0)
    else spark.read.option("basePath", root)
      .parquet(others.map(n => s"$root/$n"): _*)
      .drop("batch")
  }

  /** A batch id names a directory: non-empty, no `/`, no `=`. */
  def requireId(batchId: String): Unit =
    require(batchId.nonEmpty && !batchId.exists(c => c == '/' || c == '='),
      s"batchId must be a plain directory token: '$batchId'")

  /** Write `df` as batch `batchId`'s partition of `root`, overwriting
    * whatever an earlier run of the same batch left there. */
  def write(df: DataFrame, root: String, batchId: String, partitionBy: String*): Unit = {
    requireId(batchId)
    if (exists(df.sparkSession, root)) migrateFlatStore(df.sparkSession, root)
    df.write.mode("overwrite").partitionBy(partitionBy: _*)
      .parquet(s"$root/batch=$batchId")
  }

  /** The streaming wiring every store-backed stream shares: `process` runs
    * once per micro-batch with the checkpointed batch id. Available-now by
    * default (the scheduled-drop ingest shape); pass a processing-time
    * trigger for a long-lived query. */
  def stream(
      input: DataFrame,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())(
      process: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    input.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(process)

  /** One-time layout migration for flat (append-era) stores: move any
    * data files sitting DIRECTLY under the root into a `batch=legacy`
    * partition. Without it a batch would write `batch=<id>/` next to the
    * flat files, and the NEXT read of the root dies in partition discovery
    * ("conflicting directory structures"). A rename per file (no data copy)
    * keeps the legacy rows readable forever; stray root-level commit
    * markers (`_SUCCESS`) are dropped so only partition directories remain.
    * Idempotent: a migrated (or new-style) root has no root-level data
    * files and is left untouched. */
  private def migrateFlatStore(spark: SparkSession, root: String): Unit = {
    val (fs, rootPath) = resolve(spark, root)
    val entries = fs.listStatus(rootPath)
    val isMarker = (n: String) => n.startsWith("_") || n.startsWith(".")
    val flat = entries.filter(e => e.isFile && !isMarker(e.getPath.getName))
    if (flat.nonEmpty) {
      val legacy = new Path(rootPath, "batch=legacy")
      fs.mkdirs(legacy)
      for (f <- flat) {
        val to = new Path(legacy, f.getPath.getName)
        if (!fs.rename(f.getPath, to))
          // a silent half-migration would leave the exact mixed layout
          // this guards against — fail the batch loudly instead
          throw new java.io.IOException(
            s"flat-store migration: could not rename ${f.getPath} to $to")
      }
      entries.filter(e => e.isFile && isMarker(e.getPath.getName))
        .foreach(e => fs.delete(e.getPath, false))
    }
  }
}
