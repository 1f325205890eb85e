package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.{ActiveStateStream, BatchStore, DailyIngestStream, FlaggedDay}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("file stream -> watermarked daily agg -> partition-overwrite gold") {
    val base = Files.createTempDirectory("graft-stream").toString
    val dropDir = s"$base/drops"
    val goldDir = s"$base/gold"
    val ckpt1 = s"$base/ckpt1"

    def mkEvents(rows: Seq[(Long, String, Double)]): Unit =
      rows.map { case (uid, ts, v) => (uid, Timestamp.valueOf(ts), v) }
        .toDF("user_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(dropDir)

    // delivery 1: two days
    mkEvents(Seq(
      (1L, "2024-05-01 10:00:00", 10.0), (1L, "2024-05-01 12:00:00", 5.0),
      (2L, "2024-05-02 09:00:00", 7.0)))

    val schema = spark.read.parquet(dropDir).schema
    def runOnce(ckpt: String): Unit = {
      val stream = DailyIngestStream.readParquetStream(spark, dropDir, schema)
      val daily = DailyIngestStream.dailyCounts(stream, "ts", Seq("user_id"))
      val q = DailyIngestStream.goldUpsertWriter(daily, goldDir, ckpt).start()
      q.awaitTermination()
    }
    runOnce(ckpt1)

    val gold1 = spark.read.parquet(goldDir)
      .select(col("date").cast("string"), col("user_id"), col("n"),
        col("v").cast("double"))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(gold1 == Set(
      ("2024-05-01", 1L, 2L, 15.0),
      ("2024-05-02", 2L, 1L, 7.0)))

    // delivery 2: a new file lands — same day 2 plus a new day
    mkEvents(Seq(
      (2L, "2024-05-02 18:00:00", 3.0),
      (3L, "2024-05-03 08:00:00", 1.0)))
    runOnce(s"$base/ckpt2") // fresh checkpoint => full recompute (AvailableNow)

    val gold2 = spark.read.parquet(goldDir)
      .select(col("date").cast("string"), col("user_id"), col("n"),
        col("v").cast("double"))
      .as[(String, Long, Long, Double)].collect().toSet
    assert(gold2 == Set(
      ("2024-05-01", 1L, 2L, 15.0),
      ("2024-05-02", 2L, 2L, 10.0),
      ("2024-05-03", 3L, 1L, 1.0)))
  }

  test("stateful active-state propagation across micro-batches == batch kernel") {
    import java.sql.Date
    implicit val sqlCtx = spark.sqlContext
    def fd(e: String, d: String, s: Boolean, c: Boolean) =
      FlaggedDay(e, Date.valueOf(d), s, c)

    // scenario with a start, continuation, gap reset, and restart —
    // split across two micro-batches mid-streak
    val batch1 = Seq(
      fd("e1", "2025-06-01", true, true),
      fd("e1", "2025-06-02", false, true),
      fd("e2", "2025-06-01", false, true)) // never starts
    val batch2 = Seq(
      fd("e1", "2025-06-03", false, true), // extends streak across batches
      fd("e1", "2025-06-03", false, true), // in-batch duplicate -> one output
      fd("e1", "2025-06-05", false, true), // gap -> reset, cont alone no start
      fd("e1", "2025-06-06", true, false), // restart
      fd("e2", "2025-06-02", false, true),
      fd("e1", "2025-06-01", true, true)) // LATE duplicate -> dropped

    val input = MemoryStream[FlaggedDay]
    val out = ActiveStateStream.propagate(input.toDS())
    val q = out.writeStream.format("memory").queryName("active_out")
      .outputMode("append").start()
    input.addData(batch1: _*); q.processAllAvailable()
    input.addData(batch2: _*); q.processAllAvailable()
    q.stop()

    val got = spark.table("active_out")
      .select(col("entity"), col("date").cast("string"), col("active"), col("episode_day"))
      .as[(String, String, Boolean, Int)].collect().toSet
    assert(got == Set(
      ("e1", "2025-06-01", true, 1),
      ("e1", "2025-06-02", true, 2),
      ("e2", "2025-06-01", false, 0),
      ("e1", "2025-06-03", true, 3),
      ("e1", "2025-06-05", false, 0),
      ("e1", "2025-06-06", true, 1),
      ("e2", "2025-06-02", false, 0)))

    // parity: the same (deduped) input through the BATCH kernel gives the
    // same answer — flatMapGroupsWithState with empty state == flatMapGroups
    val all = (batch1 ++ batch2).distinct.toDF()
    val viaBatch = graft.operators.StatePropagation.propagateActive(
      all, Seq("entity"), "date", "start", "cont")
      .select(col("entity"), col("date").cast("string"), col("active"), col("episode_day"))
      .as[(String, String, Boolean, Int)].collect().toSet
    assert(viaBatch == got)
  }

  test("streaming url dedup drops within-watermark duplicates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val deduped = DailyIngestStream.dedupByKeyWithinWatermark(
      input.toDF().toDF("url_hash", "ts"), "ts", Seq("url_hash"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    input.addData(
      ("h1", Timestamp.valueOf("2024-05-01 10:00:00")),
      ("h1", Timestamp.valueOf("2024-05-01 11:00:00")), // dup in-batch
      ("h2", Timestamp.valueOf("2024-05-01 10:30:00")))
    q.processAllAvailable()
    input.addData(
      ("h1", Timestamp.valueOf("2024-05-01 12:00:00")), // dup across batches
      ("h3", Timestamp.valueOf("2024-05-01 13:00:00")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out").select("url_hash")
      .as[String].collect().sorted.toSeq
    assert(got == Seq("h1", "h2", "h3"))
  }

  test("streaming incremental dedup: per-batch emissions telescope to the batch pair set") {
    import graft.streaming.DedupStream
    val base = Files.createTempDirectory("graft-ddstream").toString
    val store = s"$base/store"
    val pairs = s"$base/pairs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // default micro-batch trigger: AvailableNow would finalize before the
    // MemoryStream deliveries below
    val q = BatchStore.stream(input.toDF().toDF("doc_id", "text"), s"$base/ckpt",
      Trigger.ProcessingTime(0))(DedupStream.processBatch(store, pairs, "doc_id", "text"))
      .start()
    // three deliveries carve the corpus by doc_id thirds
    val rows = docs.as[(Long, String)].collect()
    for (b <- 0 until 3) {
      input.addData(rows.filter(_._1 % 3 == b).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = BatchStore.read(spark, pairs)
      .as[(Long, Long, Double)].collect().toSet
    val batch = graft.operators.Dedup.minhashCandidatePairs(
      docs, "doc_id", "text",
      shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch && batch.nonEmpty, s"${streamed.size} vs ${batch.size}")
    // the store now holds every doc's band rows exactly once
    assert(spark.read.parquet(store).select("id").distinct().count() == docs.count())
  }

  test("streaming media dedup: per-batch emissions telescope to the batch pair set") {
    import graft.streaming.MediaDedupStream
    val base = Files.createTempDirectory("graft-mdstream").toString
    val store = s"$base/store"
    val pairs = s"$base/pairs"
    val media = graft.multimodal.Multimodal.synthesizeMedia(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", "text")
      .filter(col("media_type") === "image")
      .select(col("media_id"), col("payload"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Byte])]
    val q = BatchStore.stream(input.toDF().toDF("media_id", "payload"), s"$base/ckpt",
      Trigger.ProcessingTime(0))(MediaDedupStream.processBatch(store, pairs))
      .start()
    // three deliveries carve the corpus by media_id thirds — cross-batch
    // near-dups must be caught by the store probe, not the batch harvest
    val rows = media.as[(Long, Array[Byte])].collect()
    for (b <- 0 until 3) {
      input.addData(rows.filter(_._1 / 3 % 3 == b).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = spark.read.parquet(pairs)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.operators.Dedup.aHashPairs(
      graft.multimodal.Multimodal.aHashBands(media), "media_id", "bands",
      maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty, s"${streamed.size} vs ${batch.size}")
    // the store now holds every image's band rows exactly once
    assert(spark.read.parquet(store).select("id").distinct().count() == media.count())

    // crash-replay idempotence: re-running a delivered batch overwrites its
    // own batch-owned partitions — store row count, distinct ids, and the
    // pair set are all byte-identical to the crash-free run (an APPEND
    // store would duplicate band rows here and emit duplicate pairs in
    // every later batch)
    val storeRowsBefore = spark.read.parquet(store).count()
    MediaDedupStream.processBatch(store, pairs)(
      media.filter(expr("(media_id div 3) % 3 = 0")), batchId = 0L)
    assert(spark.read.parquet(store).count() == storeRowsBefore)
    val replayed = spark.read.parquet(pairs)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(replayed == batch)

    // RE-DELIVERY under a NEW batch id (at-least-once source): already-
    // shipped ids add no store rows and emit no pairs — without the
    // store-id guard they would duplicate band rows and re-emit pairs
    MediaDedupStream.processBatch(store, pairs)(
      media.filter(expr("(media_id div 3) % 3 = 0")), batchId = 99L)
    assert(spark.read.parquet(store).count() == storeRowsBefore)
    assert(spark.read.parquet(pairs)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet == batch)
  }

  test("streaming media dedup: resuming from a flat append-era store survives multiple batches") {
    import graft.streaming.MediaDedupStream
    val base = Files.createTempDirectory("graft-mdflat").toString
    val store = s"$base/store"
    val pairs = s"$base/pairs"
    val media = graft.multimodal.Multimodal.synthesizeMedia(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", "text")
      .filter(col("media_type") === "image")
      .select(col("media_id"), col("payload"))
    def third(b: Int) = media.filter(expr(s"(media_id div 3) % 3 = $b"))

    // a FLAT (append-era) store: band rows of the first third written
    // directly under the root, the layout DedupStream still uses
    graft.operators.Dedup.aHashBandTable(
      graft.multimodal.Multimodal.aHashBands(third(0)), "media_id", "bands")
      .write.mode("append").parquet(store)

    // two new-style batches on top. Before the legacy migration this
    // sequence worked for exactly ONE batch: batch 1 wrote batch=1/ next
    // to the flat files and batch 2's partition discovery died on the
    // mixed layout ("conflicting directory structures").
    MediaDedupStream.processBatch(store, pairs)(third(1), batchId = 1L)
    MediaDedupStream.processBatch(store, pairs)(third(2), batchId = 2L)

    // the flat files moved whole into batch=legacy — nothing lost, and
    // the root carries only partition directories now
    val storeIds = spark.read.parquet(store)
    assert(storeIds.select("id").distinct().count() == media.count())
    assert(storeIds.filter(col("batch") === "legacy").select("id").distinct()
      .count() == third(0).count())

    // emitted pairs = all pairs except those wholly inside the legacy
    // prefix (their emission belonged to the flat era, before this store
    // was handed over) — i.e. the legacy rows still PROBE correctly
    val all = graft.operators.Dedup.aHashPairs(
      graft.multimodal.Multimodal.aHashBands(media), "media_id", "bands",
      maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    val legacyOnly = graft.operators.Dedup.aHashPairs(
      graft.multimodal.Multimodal.aHashBands(third(0)), "media_id", "bands",
      maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    val streamed = spark.read.parquet(pairs)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == (all -- legacyOnly) && streamed.nonEmpty,
      s"${streamed.size} vs ${(all -- legacyOnly).size}")

    // re-delivery of an id the LEGACY store carries is still dropped
    // (the guard reads across the migrated partition)
    val rowsBefore = spark.read.parquet(store).count()
    MediaDedupStream.processBatch(store, pairs)(third(0), batchId = 3L)
    assert(spark.read.parquet(store).count() == rowsBefore)
    assert(spark.read.parquet(pairs)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet == (all -- legacyOnly))
  }

  test("streaming span screen: online scoring matches the offline incremental prefix") {
    import graft.streaming.SpanScreenStream
    val base = Files.createTempDirectory("graft-spanstream").toString
    val store = s"$base/store"
    val out = s"$base/out"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = BatchStore.stream(input.toDF().toDF("doc_id", "text"), s"$base/ckpt",
      Trigger.ProcessingTime(0))(
      SpanScreenStream.processBatch(store, out, "doc_id", "text", windowTokens = 3))
      .start()
    val rows = docs.as[(Long, String)].collect()
    for (b <- 0 until 3) {
      input.addData(rows.filter(_._1 % 3 == b).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    // batch 2's streamed rows == offline incremental screen of batch 2
    // against the store of batches 0+1
    val streamed = BatchStore.read(spark, out)
      .filter(col("id") % 3 === 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val offline = graft.operators.Dedup.duplicatedSpansIncremental(
      docs.filter(col("doc_id") % 3 === 2),
      graft.operators.Dedup.spanWindowHashes(
        docs.filter(col("doc_id") % 3 =!= 2), "doc_id", "text", 3)
        .select("h").distinct(),
      "doc_id", "text", 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(streamed == offline && offline.nonEmpty)
    // the store stayed a set: one row per distinct window hash
    val sh = BatchStore.read(spark, store)
    assert(sh.count() == sh.distinct().count())
    assert(sh.count() ==
      graft.operators.Dedup.spanWindowHashes(docs, "doc_id", "text", 3)
        .select("h").distinct().count())
  }

  test("streaming session_window finalizes the same sessions as batch (q54 kernel)") {
    val rows = Seq(
      (1L, "2024-05-01 10:00:00"), (1L, "2024-05-01 12:30:00"), // one session (<6h gaps)
      (1L, "2024-05-01 20:00:00"),                              // 7.5h gap -> new session
      (2L, "2024-05-01 09:00:00"),
      (2L, "2024-05-02 09:00:00")                               // next day -> new session
    ).map { case (u, t) => (u, Timestamp.valueOf(t)) }

    def sessionsOf(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), session_window(col("t"), "6 hours").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").cast("string").as("s"), col("n_events"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val stream = sessionsOf(
      input.toDF().toDF("user_id", "t").withWatermark("t", "0 seconds"))
    val q = stream.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    // sentinel far past every session end: advances the watermark so all
    // real sessions finalize (its own open session never emits)
    input.addData((99L, Timestamp.valueOf("2024-06-01 00:00:00")))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sess_out")
      .as[(Long, String, Long)].collect().toSet
    val batch = sessionsOf(rows.toDF("user_id", "t"))
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batch && batch.size == 4, s"$streamed vs $batch")
  }

  test("streaming jsonl ingest == batch parse on the same drops") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-jsonl-stream").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$dir/a.jsonl"),
      "{\"doc_id\": 1, \"text\": \"one\"}\nbroken line\n")

    val parsed = graft.sources.JsonlCorpus.parseStream(spark, dir, schema)
    val good = graft.sources.JsonlCorpus.documents(parsed)
    val q = good.writeStream.format("memory").queryName("jsonl_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // a second drop lands mid-stream
    java.nio.file.Files.writeString(java.nio.file.Path.of(s"$dir/b.jsonl"),
      "{\"doc_id\": 2, \"text\": \"two\"}\n")
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("jsonl_out")
      .as[(Long, String)].collect().toSet
    val batch = graft.sources.JsonlCorpus.documents(
      graft.sources.JsonlCorpus.parse(spark, dir, schema))
      .as[(Long, String)].collect().toSet
    assert(streamed == batch && batch == Set((1L, "one"), (2L, "two")))
    // quarantine side agrees too (batch check; the stream shares the plan)
    assert(graft.sources.JsonlCorpus.quarantine(
      graft.sources.JsonlCorpus.parse(spark, dir, schema))
      .as[String].collect().toSeq == Seq("broken line"))
  }

  test("streaming daily HLL sketches merge to the same rollup as batch sketches") {
    // the SketchRollup contract under incremental arrival: sketch each
    // micro-batch's days as they stream in, then rollup(union) offline.
    // Exact row counts must survive; estimates may shift a hair vs the
    // batch-built daily path (streaming state re-merges promote sparse
    // sketches to dense mode earlier) but stay inside the HLL envelope
    val rnd = new scala.util.Random(11)
    val rows = (1 to 3000).map(_ => (1 + rnd.nextInt(6), s"u${rnd.nextInt(500)}"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Int, String)]
    val daily = input.toDF().toDF("day", "user_id")
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sketch"),
        count(lit(1)).as("n_rows"))
    val q = daily.writeStream.format("memory").queryName("sketch_out")
      .outputMode("complete").start()
    rows.grouped(700).foreach { batch =>
      input.addData(batch: _*); q.processAllAvailable()
    }
    q.stop()

    val streamedRollup = graft.operators.SketchRollup.rollup(
      spark.table("sketch_out").withColumn("week", expr("(day - 1) div 3")), Seq("week"))
      .as[(Long, Double, Long)].collect().toSet
    val batchRollup = graft.operators.SketchRollup.rollup(
      graft.operators.SketchRollup.sketchByKey(
        rows.toDF("day", "user_id").withColumn("week", expr("(day - 1) div 3")),
        Seq("day", "week"), "user_id"), Seq("week"))
      .as[(Long, Double, Long)].collect().toSet
    assert(streamedRollup.size == 2 && batchRollup.size == 2)
    val bm = batchRollup.map(r => r._1 -> r).toMap
    for ((wk, est, n) <- streamedRollup) {
      assert(n == bm(wk)._3, s"row counts must merge exactly at week $wk")
      assert(math.abs(est - bm(wk)._2) / bm(wk)._2 < 0.02,
        s"week $wk: streamed $est vs batch ${bm(wk)._2}")
    }
  }

  test("streaming funnel folds micro-batches to the batch operator's answer") {
    import graft.streaming.{FunnelEvent, FunnelStream}
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val types = Seq("a", "b", "c", "x")
    val all = (1L to 600L).map { t =>
      FunnelEvent(rnd.nextInt(25).toLong, t, types(rnd.nextInt(types.length)))
    }
    // three time-ordered micro-batches (the delivery contract)
    val slices = Seq(all.filter(_.ts <= 150), all.filter(e => e.ts > 150 && e.ts <= 420),
      all.filter(_.ts > 420))
    val input = MemoryStream[FunnelEvent]
    val q = FunnelStream.track(input.toDS(), Seq("a", "b", "c"))
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    slices.foreach { s => input.addData(s: _*); q.processAllAvailable() }
    q.stop()
    // latest emission per user = final state; compare to the batch funnel
    val got = spark.table("funnel_out")
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("steps_completed").desc)))
      .filter(col("__r") === 1)
      .select(col("user_id"), col("steps_completed").cast("long"), col("times"))
      .as[(Long, Long, Seq[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val expected = graft.operators.Funnel.funnelSteps(
      all.toDF(), "user_id", "ts", "event_type", Seq("a", "b", "c"))
      .collect().map { r =>
        val ts = Seq(1, 2, 3).flatMap(i => Option(r.get(i)).map(_.asInstanceOf[Long]))
        r.getLong(0) -> (r.getLong(4), ts)
      }.toMap
    // streamed rows exist only for users who advanced at least once
    assert(got === expected.filter(_._2._1 > 0))
  }

  test("session stream: micro-batch fold == one-shot batch sessionize") {
    import graft.streaming.{SessionEvent, SessionStream}
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(61)
    // sparse per-user timelines so real gaps occur WITHIN and ACROSS batches
    val all = (1L to 500L).flatMap { t =>
      if (rnd.nextBoolean()) None
      else Some(SessionEvent(rnd.nextInt(8).toLong, t * 97, rnd.nextInt(4) == 0))
    }
    val gap = 900L
    val slices = Seq(all.filter(_.ts <= 16000),
      all.filter(e => e.ts > 16000 && e.ts <= 33000), all.filter(_.ts > 33000))
    val input = MemoryStream[SessionEvent]
    val q = SessionStream.track(input.toDS(), gap)
      .writeStream.format("memory").queryName("session_out")
      .outputMode("update").start()
    slices.foreach { s => input.addData(s: _*); q.processAllAvailable() }
    q.stop()
    // per (user, session_start): the closed row is final; otherwise the
    // latest open emission (max n_events) is the session's current state
    val got = spark.table("session_out")
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("session_start_us"))
          .orderBy(col("closed").desc, col("n_events").desc)))
      .filter(col("__r") === 1)
      .select("user_id", "session_start_us", "session_end_us", "n_events",
        "n_purchases")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val expected = graft.operators.Sessionize.sessionize(
      all.toDF(), "user_id", "ts", gap, col("is_purchase"))
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"), col("n_purchases"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("streaming trailing distinct: update-mode counts converge to the batch series") {
    import graft.streaming.SlidingDistinctStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (day, user)
    val counts = SlidingDistinctStream.dailyActive(
      input.toDF().toDF("d", "u"), "d", "u", windowDays = 3)
    val q = counts.writeStream.format("memory").queryName("sd_out")
      .outputMode("update").start()
    val b1 = Seq((10L, 1L), (10L, 2L), (11L, 1L))
    val b2 = Seq((12L, 3L), (13L, 1L), (10L, 2L)) // cross-batch duplicate pair
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // update mode re-emits a day whenever its count grows: latest = max
    val got = spark.table("sd_out").groupBy("day")
      .agg(max("n_active").as("n")).as[(Long, Long)].collect().toMap
    val batch = graft.operators.SlidingDistinct.trailingDistinct(
      (b1 ++ b2).toDF("d", "u"), "d", "u", windowDays = 3)
      .as[(Long, Long)].collect().toMap
    // the stream has no [lo, hi] clip; on the batch domain it must agree,
    // and its extra days can only be the tail overhang beyond hi
    assert(batch.forall { case (d, n) => got.get(d).contains(n) },
      s"got=$got batch=$batch")
    assert(got.keySet.filterNot(batch.contains).forall(_ > batch.keySet.max))

    // batch-mode parity: the SAME streaming plan over a batch frame
    // (watermark no-op, dedup = distinct) reproduces the unclipped series
    val viaBatch = SlidingDistinctStream.dailyActive(
      (b1 ++ b2).toDF("d", "u"), "d", "u", windowDays = 3)
      .as[(Long, Long)].collect().toMap
    assert(viaBatch == got)
  }

  test("streaming ngram novelty: epoch-ordered drops match the batch operator") {
    import graft.streaming.NoveltyStream
    val base = Files.createTempDirectory("graft-novstream").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(pmod(col("doc_id"), lit(4L)).as("epoch_src"), col("text"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = BatchStore.stream(input.toDF().toDF("epoch_src", "text"), s"$base/ckpt",
      Trigger.ProcessingTime(0))(
      NoveltyStream.processBatch(s"$base/store", s"$base/metrics", "epoch_src", "text"))
      .start()
    val rows = docs.as[(Long, String)].collect()
    // epochs arrive in order — 0 and 1 together (multi-epoch batch
    // exercises the min-epoch attribution), then 2, then 3
    for (batch <- Seq(Seq(0L, 1L), Seq(2L), Seq(3L))) {
      input.addData(rows.filter(r => batch.contains(r._1)).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = BatchStore.read(spark, s"$base/metrics")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batchRows = graft.operators.Drift.ngramNovelty(docs, "epoch_src", "text", n = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batchRows && batchRows.size == 4,
      s"streamed=$streamed batch=$batchRows")
  }

  test("streaming hitters: out-of-order whole-epoch drops match the batch rollup") {
    import graft.streaming.HittersStream
    val base = Files.createTempDirectory("graft-hitstream").toString
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(pmod(col("event_id"), lit(5L)).as("epoch"), col("user_id"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val q = BatchStore.stream(input.toDF().toDF("epoch", "user_id"), s"$base/ckpt",
      Trigger.ProcessingTime(0))(
      HittersStream.processBatch(s"$base/store", "epoch", "user_id", k = 10))
      .start()
    val rows = ev.as[(Long, Long)].collect()
    // whole epochs, deliberately OUT of order, one multi-epoch batch —
    // per-epoch top-k depends only on the epoch's own counts
    for (batch <- Seq(Seq(3L), Seq(0L, 4L), Seq(2L), Seq(1L))) {
      input.addData(rows.filter(r => batch.contains(r._1)).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = HittersStream.survivors(spark, s"$base/store", minEpochs = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    val batchRows = graft.operators.HeavyHitters.persistentHitters(
        ev, "epoch", "user_id", k = 10, minEpochs = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batchRows && batchRows.nonEmpty,
      s"streamed=$streamed batch=$batchRows")
  }

  test("streaming drift monitor: per-drop KS vs frozen baseline matches batch") {
    import graft.streaming.DriftStream
    val base = Files.createTempDirectory("graft-driftstream").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(pmod(col("doc_id"), lit(4L)).as("epoch"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    // frozen baseline: epoch 0's distribution (pre-seeded)
    val baselineDf = docs.filter(col("epoch") === 0L).select("n_tok")
    DriftStream.writeBaseline(baselineDf, "n_tok", s"$base/baseline")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val q = BatchStore.stream(input.toDF().toDF("epoch", "n_tok"), s"$base/ckpt",
      Trigger.ProcessingTime(0))(
      DriftStream.processBatch(s"$base/baseline", s"$base/metrics", "epoch", "n_tok"))
      .start()
    val rows = docs.as[(Long, Long)].collect()
    // one multi-epoch batch then a single drop — against a FROZEN
    // baseline the batching cannot matter
    for (batch <- Seq(Seq(1L, 3L), Seq(2L))) {
      input.addData(rows.filter(r => batch.contains(r._1)).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = BatchStore.read(spark, s"$base/metrics")
      .as[(Long, Long, Long)].collect().toSet
    val want = (1L to 3L).map { ep =>
      val r = graft.operators.Drift.ksTwoSample(
        docs.filter(col("epoch") === ep).select("n_tok"), baselineDf, "n_tok")
        .as[(Long, Long, Long)].head()
      (ep, r._1, r._3)
    }.toSet
    assert(streamed == want && want.forall(_._2 > 0), s"$streamed vs $want")
  }

  test("streaming view maintenance: log store telescopes to the batch aggregate") {
    import graft.streaming.MaintenanceStream
    val base = Files.createTempDirectory("graft-maintstream").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"),
        col("event_type"), col("event_id"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val q = BatchStore.stream(input.toDF().toDF("day", "event_type", "event_id"),
      s"$base/ckpt", Trigger.ProcessingTime(0))(
      MaintenanceStream.processBatch(s"$base/store", s"$base/deltas", Seq("day", "event_type")))
      .start()
    val rows = ev.as[(Long, String, Long)].collect()
    for (m <- 0L to 2L) {
      input.addData(rows.filter(_._3 % 3 == m).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    // store sums == one-shot aggregate (read through currentView, the
    // documented store-read contract)
    val storeLog = spark.read.parquet(s"$base/store")
    val streamed = MaintenanceStream
      .currentView(storeLog, Seq("day", "event_type"))
      .as[(Long, String, Long)].collect().toSet
    val batchAgg = ev.groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batchAgg && batchAgg.nonEmpty)
    // telescoping: per group, deltas ordered by batch_id chain
    // old_n(next) == new_n(prev), and the last new_n is the final count
    val deltas = spark.read.parquet(s"$base/deltas")
      .select("day", "event_type", "old_n", "new_n", "batch_id")
      .as[(Long, String, Long, Long, Long)].collect()
      .groupBy(d => (d._1, d._2))
    deltas.foreach { case (k, ds) =>
      val chain = ds.sortBy(_._5)
      chain.sliding(2).foreach {
        case Array(p, n) => assert(p._4 == n._3, s"chain broken at $k")
        case _ =>
      }
      assert(chain.last._4 == batchAgg.find(b => (b._1, b._2) == k).get._3)
    }
  }

  test("streaming seasonal monitor: frozen-baseline flags match the batch join") {
    import graft.streaming.SeasonalStream
    val base = Files.createTempDirectory("graft-seasonalstream").toString
    val daily = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(col("event_type").as("series"),
        graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("v"))
    // history = first 3 weeks; live = the rest (arbitrary split point)
    val history = daily.filter(col("day") % 28 < 21)
    val live = daily.filter(col("day") % 28 >= 21)
    SeasonalStream.writeBaseline(history, "series", "day", "v", s"$base/baseline")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Double)]
    val q = BatchStore.stream(input.toDF().toDF("series", "day", "v"), s"$base/ckpt",
      Trigger.ProcessingTime(0))(
      SeasonalStream.processBatch(s"$base/baseline", s"$base/metrics", "series", "day", "v"))
      .start()
    val rows = live.as[(String, Long, Double)].collect()
    // two arbitrary drops — frozen baseline, so batching cannot matter
    val (drop1, drop2) = rows.partition(_._2 % 2 == 0)
    for (drop <- Seq(drop1, drop2) if drop.nonEmpty) {
      input.addData(drop.toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = BatchStore.read(spark, s"$base/metrics")
      .as[(String, Long, Double, Option[Double], Option[Double], Option[Boolean])]
      .collect().toSet
    val want = SeasonalStream.scoreAgainst(
        live, spark.read.parquet(s"$base/baseline"), "series", "day", "v")
      .as[(String, Long, Double, Option[Double], Option[Double], Option[Boolean])]
      .collect().toSet
    assert(streamed == want && want.nonEmpty, s"$streamed vs $want")
    // and the flags agree with the pure-batch operator on the pooled data
    // wherever the (series, dow) baseline existed
    assert(want.exists(_._4.isDefined), "at least one known-(series,dow) row")
  }

  test("watermark planner predictions match an actual withWatermark run") {
    import graft.operators.Sweep
    // real event TIMES, deterministic md5-shuffled ARRIVAL order (by-id
    // arrival at sf0.001 is perfectly time-sorted — zero lateness, nothing
    // to plan); ms-floored so Spark's internal ms-granularity watermark is
    // exact against the planner's microsecond arithmetic
    val n = 90
    val raw = Tables.events(spark, "/root/testdata/sf0.001")
      .orderBy("event_id").limit(n)
      .select("event_id", "ts").as[(Long, Long)].collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val arrival = raw
      .map { case (id, tsNs) => (id, (tsNs / 1000000L) * 1000L) }
      .sortBy { case (id, _) => md5hex(id.toString) }
      .zipWithIndex.map { case ((_, tUs), i) => (i.toLong, tUs) }

    // guard the boundary: planner drops on late > W strictly; Spark's
    // filter sits within 1 ms of that — equivalent unless some lateness
    // EQUALS a candidate exactly, so assert none does
    val candidates = Seq(3600000000L, 43200000000L, 129600000000L) // 1h/12h/36h µs
    val lates = arrival.map(_._2)
      .scanLeft((Long.MinValue, 0L)) { case ((mx, _), t) =>
        (math.max(mx, t), math.max(0L, mx - t)) }.drop(1).map(_._2)
    assert(candidates.forall(w => !lates.contains(w)), "boundary tie in fixture")

    val planned = Sweep.watermarkPlanner(
      arrival.toSeq.toDF("arr", "t_us"), "arr", "t_us",
      bucketWidth = 16L, candidates = candidates)
      .select("watermark", "n_dropped").as[(Long, Long)].collect().toMap
    assert(planned.values.toSet.size == 3 && planned.values.forall(_ > 0),
      s"fixture should make the tiers distinct and non-trivial: $planned")

    // drive a REAL streaming aggregation per tier: one row per micro-batch
    // in arrival order, so the engine's watermark advances exactly like the
    // planner's per-row running max
    for ((wUs, idx) <- candidates.zipWithIndex) {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Long)]
      val qname = s"wm_pin_$idx"
      val q = input.toDF().toDF("arr", "t_us")
        .withColumn("ets", timestamp_micros(col("t_us")))
        .withWatermark("ets", s"${wUs / 1000000L} seconds")
        .groupBy("ets").count()
        .writeStream.outputMode("update").format("memory").queryName(qname)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
      arrival.foreach { row => input.addData(row); q.processAllAvailable() }
      q.stop()
      // kept = final count per event-time key (update mode re-emits keys;
      // counts are monotone, so max is the final state)
      val kept = spark.table(qname)
        .groupBy("ets").agg(max(col("count")).as("c"))
        .agg(sum(col("c"))).as[Long].head()
      assert(n - kept == planned(wUs),
        s"watermark ${wUs}us: planner ${planned(wUs)} vs observed ${n - kept}")
    }
  }

  test("streaming bootstrap: mergeable moment store equals the one-shot replicate means") {
    import graft.streaming.BootstrapStream
    val base = Files.createTempDirectory("graft-bootstream").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val q = BatchStore.stream(input.toDF().toDF("event_type", "event_id", "cents"),
      s"$base/ckpt", Trigger.ProcessingTime(0))(
      BootstrapStream.processBatch(s"$base/store",
        idCol = "event_id", valueCol = "cents", groupCol = "event_type", b = 8))
      .start()
    val rows = ev.as[(String, Long, Long)].collect()
    for (m <- 0L to 2L) {
      input.addData(rows.filter(_._2 % 3 == m).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    // partial moments merge to EXACTLY the one-shot replicate means: the
    // weights are per-row deterministic and the sums are exact integers,
    // so this is bit equality, not a tolerance check
    val log = spark.read.parquet(s"$base/store")
    val streamed = BootstrapStream.currentMeans(log, "event_type")
      .as[(String, Int, Double)].collect().toSet
    val oneShot = graft.operators.Bootstrap.poissonReplicateMeans(
        ev, "event_id", "cents", "event_type", 8)
      .as[(String, Int, Double)].collect().toSet
    assert(streamed == oneShot && oneShot.nonEmpty)
  }

  test("ivf index store: streamed ingest + probe equals the batch rebuild; re-delivery drops") {
    import graft.streaming.IvfIndexStream
    val base = Files.createTempDirectory("graft-ivfstream").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    IvfIndexStream.buildCodebook(emb, base, "vec_id", "embedding", nlist = 8)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val q = BatchStore.stream(input.toDF().toDF("vec_id", "embedding"), s"$base/ckpt",
      Trigger.ProcessingTime(0))(IvfIndexStream.processBatch(base, "vec_id", "embedding"))
      .start()
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    // uneven batches, shuffled order, and a RE-DELIVERY: the third drop
    // repeats rows the first already shipped — the id guard must drop
    // them (an index serving duplicates double-counts neighbors)
    val (d1, d2) = rows.reverse.splitAt(rows.length / 3)
    for (batch <- Seq(d1, d2, d1.take(5))) {
      input.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()
    // exactly-once at the asset grain despite the re-delivered drop
    assert(spark.read.parquet(s"$base/postings").select("id").distinct().count()
      == rows.length)
    assert(spark.read.parquet(s"$base/postings").count() == rows.length)

    val queries = emb.filter(col("vec_id") < 8L)
    val served = IvfIndexStream.query(
        spark, base, queries, "vec_id", "embedding", k = 5, nprobe = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val batchAnswer = graft.operators.Similarity.ivfTopK(
        emb, queries, "vec_id", "embedding", k = 5,
        centroids = IvfIndexStream.codebook(spark, base), nprobe = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(served == batchAnswer && batchAnswer.nonEmpty,
      s"served=${served.size} batch=${batchAnswer.size}")
  }

  test("streaming bradley-terry: counts store fit equals the batch fit under any batching") {
    import graft.streaming.PreferenceStream
    val base = Files.createTempDirectory("graft-prefstream").toString
    // the q250 generative law in miniature: md5-drawn pairs over 8 items,
    // latent strength item+1
    val rows = (0L until 600L).map { e =>
      def h(tag: String) =
        graft.functions.PortableHash.md5Hash60Local(s"$e$tag")
      val a = h(":a") % 8
      val b0 = h(":b") % 7
      val b = if (b0 >= a) b0 + 1 else b0
      if (h(":w") % (a + b + 2) < a + 1) (a, b) else (b, a)
    }

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val q = BatchStore.stream(input.toDF().toDF("winner", "loser"), s"$base/ckpt",
      Trigger.ProcessingTime(0))(PreferenceStream.processBatch(s"$base/store", "winner", "loser"))
      .start()
    // arbitrary uneven batching, shuffled order — pair counts add
    // associatively, so the fit must not care
    for (batch <- rows.reverse.grouped(171).toSeq.reverse) {
      input.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()

    val streamed = PreferenceStream.strengths(spark, s"$base/store")
      .as[(Long, Long, Long)].collect().toSet
    val batchFit = graft.operators.Preference.bradleyTerryFixedPoint(
        rows.toDF("winner", "loser"), "winner", "loser")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batchFit && batchFit.size == 8,
      s"streamed=$streamed batch=$batchFit")
    // restart-resume posture: a second fit straight off the store parquet
    // (no stream state) reads the same answer
    assert(PreferenceStream.strengths(spark, s"$base/store")
      .as[(Long, Long, Long)].collect().toSet == batchFit)
  }

  test("replaying a batch id leaves every store-backed sink's rows unchanged") {
    import graft.streaming._
    import org.apache.spark.sql.{Column, DataFrame}
    // foreachBatch is at-least-once: a crash between a sink write and the
    // checkpoint commit re-runs the last batch under the same id. Each case
    // runs two batches, snapshots every root it writes, re-runs the second
    // batch, and demands the same rows (partition columns included).
    val base = Files.createTempDirectory("graft-replay").toString
    def at(sink: String, root: String) = s"$base/$sink/$root"
    // seeded inputs; every odd doc is a one-token edit of the doc before
    // it, so the dedup sinks have pairs to emit
    val rnd = new scala.util.Random(5)
    val texts = (0 until 150).map(_ => Seq.fill(24)(s"w${rnd.nextInt(400)}").mkString(" "))
    val docs = (0L until 300L).map { i =>
      val t = texts((i / 2).toInt)
      (i, if (i % 2 == 0) t else t + " edit")
    }.toDF("doc_id", "text")
    val media = graft.multimodal.Multimodal.synthesizeMedia(
        (0L until 1000L).map(i => (i, s"text for $i")).toDF("doc_id", "text"), "doc_id", "text")
      .filter(col("media_type") === "image").select(col("media_id"), col("payload"))
    val ev = (0L until 600L).map(i =>
        (i, 20000L + i % 40, Seq("view", "click", "cart", "buy")(rnd.nextInt(4)),
          i % 37, rnd.nextInt(1000).toLong))
      .toDF("event_id", "day", "event_type", "user_id", "cents")
    val emb = (0L until 300L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    def parts(df: DataFrame, key: Column, n: Long, residues: Long*) =
      residues.map(r => df.filter(pmod(key, lit(n)) === r))
    val daily = ev.groupBy(col("event_type").as("series"), col("day"))
      .agg(count(lit(1)).cast("double").as("v"))
    SeasonalStream.writeBaseline(daily.filter(col("day") % 28 < 21),
      "series", "day", "v", at("seasonal", "baseline"))
    IvfIndexStream.buildCodebook(emb, s"$base/ivf", "vec_id", "embedding", nlist = 8)
    val judgments = (0L until 120L).map(e => (e % 8, (e * 5 + 3) % 8))
      .filter(p => p._1 != p._2).toDF("winner", "loser")

    // (sink, the roots it writes, its two batches, its processBatch)
    val sinks: Seq[(String, Seq[String], Seq[DataFrame], (DataFrame, Long) => Unit)] = Seq(
      ("dedup", Seq("store", "pairs"), parts(docs, col("doc_id"), 3, 0, 1),
        DedupStream.processBatch(at("dedup", "store"), at("dedup", "pairs"), "doc_id", "text")),
      ("media", Seq("store", "pairs"), parts(media, expr("media_id div 3"), 3, 0, 1),
        MediaDedupStream.processBatch(at("media", "store"), at("media", "pairs"))),
      ("span", Seq("store", "out"), parts(docs, col("doc_id"), 3, 0, 1),
        SpanScreenStream.processBatch(at("span", "store"), at("span", "out"), "doc_id", "text",
          windowTokens = 3)),
      ("novelty", Seq("store", "metrics"),
        parts(docs.select(pmod(col("doc_id"), lit(4L)).as("epoch_src"), col("text")),
          col("epoch_src"), 4, 0, 1),
        NoveltyStream.processBatch(at("novelty", "store"), at("novelty", "metrics"),
          "epoch_src", "text")),
      ("hitters", Seq("store"),
        parts(ev.select(pmod(col("event_id"), lit(5L)).as("epoch"), col("user_id")),
          col("epoch"), 5, 0, 1),
        HittersStream.processBatch(at("hitters", "store"), "epoch", "user_id", k = 10)),
      ("preference", Seq("store"), parts(judgments, col("winner"), 2, 0, 1),
        PreferenceStream.processBatch(at("preference", "store"), "winner", "loser")),
      ("drift", Seq("baseline", "metrics"),
        parts(docs.select(pmod(col("doc_id"), lit(4L)).as("epoch"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok")),
          col("epoch"), 4, 1, 2),
        DriftStream.processBatch(at("drift", "baseline"), at("drift", "metrics"),
          "epoch", "n_tok")),
      ("seasonal", Seq("metrics"), parts(daily.filter(col("day") % 28 >= 21), col("day"), 2, 0, 1),
        SeasonalStream.processBatch(at("seasonal", "baseline"), at("seasonal", "metrics"),
          "series", "day", "v")),
      ("maintenance", Seq("store", "deltas"), parts(ev, col("event_id"), 3, 0, 1)
          .map(_.select("day", "event_type", "event_id")),
        MaintenanceStream.processBatch(at("maintenance", "store"), at("maintenance", "deltas"),
          Seq("day", "event_type"))),
      ("bootstrap", Seq("store"), parts(ev, col("event_id"), 3, 0, 1),
        BootstrapStream.processBatch(at("bootstrap", "store"),
          idCol = "event_id", valueCol = "cents", groupCol = "event_type", b = 8)),
      ("ivf", Seq("postings"), parts(emb, col("vec_id"), 3, 0, 1),
        IvfIndexStream.processBatch(s"$base/ivf", "vec_id", "embedding")))

    def rows(root: String): Seq[String] =
      spark.read.parquet(root).collect().map(_.toSeq.map {
        case b: Array[Byte] => b.mkString(",")
        case v => String.valueOf(v)
      }.mkString("|")).sorted.toSeq
    val changed = sinks.flatMap { case (sink, roots, batches, process) =>
      batches.zipWithIndex.foreach { case (b, i) => process(b, i.toLong) }
      val before = roots.map(r => rows(at(sink, r)))
      assert(before.forall(_.nonEmpty), s"$sink: every root must hold rows")
      process(batches.last, batches.size - 1L)
      roots.zip(before).collect { case (r, b) if rows(at(sink, r)) != b => s"$sink/$r" }
    }
    assert(changed.isEmpty, s"a replayed batch changed: ${changed.mkString(", ")}")
  }

  test("one store protocol: only BatchStore appends or resolves a FileSystem") {
    val sources = Seq("src/main/scala/graft/streaming", "src/main/scala/graft/pipeline")
      .flatMap(d => Option(new java.io.File(d).listFiles()).toSeq.flatten)
      .filter(f => f.getName.endsWith(".scala"))
    assert(sources.exists(_.getName == "BatchStore.scala"), "run from the repo root")
    val offenders = for {
      f <- sources if f.getName != "BatchStore.scala"
      (line, i) <- new String(Files.readAllBytes(f.toPath), "UTF-8").split("\n").toSeq.zipWithIndex
      if line.contains("mode(\"append\")") || line.contains("getFileSystem")
    } yield s"${f.getPath}:${i + 1}"
    assert(offenders.isEmpty, s"store plumbing outside BatchStore: ${offenders.mkString(", ")}")
  }
}
