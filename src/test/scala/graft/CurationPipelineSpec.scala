package graft

import java.nio.file.Files

import graft.pipeline.CurationPipeline
import graft.pipeline.CurationPipeline.Config
import org.apache.spark.sql.functions._

/** End-to-end integration of the incremental curation pipeline: every
  * stage drops exactly the documents it was engineered to drop, the
  * cross-BATCH drops prove each store is consulted (exact fingerprints,
  * minhash bands, span hashes), re-runs are skipped via the manifest,
  * a crashed run (data written, manifest missing) replays to identical
  * state, and the whole pipeline + epoch sharding is deterministic
  * across independent base directories. */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  // 24 mostly-doc-unique tokens with the en stopwords present; long
  // enough for 4-token windows and clearly above the short doc's length
  private def goodText(tag: String): String =
    (Seq("the", "and", "of") ++ (1 to 21).map(i => s"w${tag}_$i")).mkString(" ")

  private val d1 = goodText("a")
  private val d2 = goodText("b")
  // near-dup of d2: one extra trailing token -> 2-shingle jaccard 23/24,
  // far above the 0.8 gate; NOT an exact duplicate
  private val nearD2 = d2 + " w_b_21"
  // span-overlap with d1 but LOW shingle jaccard (~0.5): 16 of d1's
  // tokens then 6 fresh -> 13 of 19 4-token windows duplicated (0.68)
  private val spanD1 =
    (d1.split(" ").take(16) ++ (1 to 6).map(i => s"f_$i")).mkString(" ")
  private val repetitive = Seq.fill(24)("r5").mkString(" ")

  private val batch1 = Seq(
    (1L, "srcA", "en", d1),
    (2L, "srcB", "en", d2),
    (3L, "srcA", "en", d1),         // exact dup of 1 within batch
    (4L, "srcB", "en", nearD2),     // near-dup of 2 within batch
    (5L, "srcA", "en", repetitive), // gate: repetition
    (6L, "srcA", "de", goodText("c")), // gate: langid disagreement
    (7L, "srcA", "en", "the w7 and of")) // gate: below p25 length

  private val batch2 = Seq(
    (8L, "srcA", "en", goodText("d") + " mail me at bob@example.com"),
    (9L, "srcB", "en", d1),          // exact dup of SHIPPED doc 1 (store)
    (10L, "srcB", "en", d2 + " w_b_22"), // near-dup of shipped 2 (band store)
    (11L, "srcA", "en", spanD1),     // span-dup of shipped 1 (span store)
    (12L, "srcA", "en", repetitive)) // exact dup of EVALUATED-but-dropped 5

  private def df(rows: Seq[(Long, String, String, String)]) =
    rows.toDF("doc_id", "source", "lang", "text")

  private def cfg(base: String) = Config(
    baseDir = base, windowTokens = 4, shingleSize = 2,
    numHashes = 16, rowsPerBand = 4, minhashThreshold = 0.8,
    maxDupFrac = 0.5, numShards = 4)

  private def runBoth(base: String): Seq[CurationPipeline.BatchReport] = Seq(
    CurationPipeline.runBatch(spark, df(batch1), "b1", cfg(base)),
    CurationPipeline.runBatch(spark, df(batch2), "b2", cfg(base)))

  private def curated(base: String): Seq[(Long, String)] =
    spark.read.parquet(s"$base/curated")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().sortBy(_._1).toSeq

  test("stores drive cross-batch drops; per-stage counts are exact") {
    val base = Files.createTempDirectory("graft-pipe").toString
    val Seq(r1, r2) = runBoth(base)

    assert(!r1.skipped && !r2.skipped)
    assert(r1.stages.map(s => (s.stage, s.rowsIn, s.rowsOut)) == Seq(
      ("scrub", 7L, 7L),
      ("exact_dedup", 7L, 6L),   // 3 collapses into 1
      ("minhash_dedup", 6L, 5L), // 4 near-dups 2 (within batch)
      ("span_screen", 5L, 5L),   // nothing in the empty store matches
      ("quality_gate", 5L, 2L))) // 5 repetitive, 6 wrong lang, 7 short
    assert(r2.stages.map(s => (s.stage, s.rowsIn, s.rowsOut)) == Seq(
      ("scrub", 5L, 5L),
      ("exact_dedup", 5L, 3L),   // 9 == shipped 1; 12 == evaluated 5
      ("minhash_dedup", 3L, 2L), // 10 near-dups shipped 2 via band store
      ("span_screen", 2L, 1L),   // 11 dup-spans shipped 1 via span store
      ("quality_gate", 1L, 1L)))

    val got = curated(base)
    assert(got.map(_._1) == Seq(1L, 2L, 8L))
    // the scrub stage ran before anything was stored or shipped
    val d8text = got.find(_._1 == 8L).get._2
    assert(d8text.endsWith("mail me at <EMAIL>") && !d8text.contains("@"))
  }

  test("committed batches are skipped; a crashed batch replays to identical state") {
    val base = Files.createTempDirectory("graft-pipe").toString
    runBoth(base)
    val before = curated(base)
    val spanStore = spark.read.parquet(s"$base/stores/span_hashes")
      .as[(Long, String)].collect().toSet

    // re-run committed -> skipped, counts come from the manifest
    val again = CurationPipeline.runBatch(spark, df(batch2), "b2", cfg(base))
    assert(again.skipped)
    assert(again.stages.map(_.stage) ==
      Seq("scrub", "exact_dedup", "minhash_dedup", "span_screen", "quality_gate"))

    // simulate a crash AFTER data writes, BEFORE the commit marker: delete
    // only b2's manifest; the re-run must redo b2 against b1-only stores
    // (its own partial partitions are excluded by the batch filter) and
    // land in exactly the same state
    val mfs = new org.apache.hadoop.fs.Path(s"$base/manifests/batch=b2")
    mfs.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(mfs, true)
    val replay = CurationPipeline.runBatch(spark, df(batch2), "b2", cfg(base))
    assert(!replay.skipped)
    assert(curated(base) == before)
    assert(spark.read.parquet(s"$base/stores/span_hashes")
      .as[(Long, String)].collect().toSet == spanStore)
  }

  test("jsonl ingest face: quarantine split recorded, curated output identical") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("lang", StringType), StructField("text", StringType)))
    def jline(r: (Long, String, String, String)) =
      s"""{"doc_id":${r._1},"source":"${r._2}","lang":"${r._3}","text":"${r._4}"}"""
    val dir = Files.createTempDirectory("graft-jsonl").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/b1.jsonl"),
      (batch1.map(jline) :+ "{broken").mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/b2.jsonl"),
      batch2.map(jline).mkString("\n").getBytes("UTF-8"))

    val base = Files.createTempDirectory("graft-pipe-jsonl").toString
    val r1 = CurationPipeline.runJsonlBatch(spark, s"$dir/b1.jsonl", schema, "b1", cfg(base))
    val r2 = CurationPipeline.runJsonlBatch(spark, s"$dir/b2.jsonl", schema, "b2", cfg(base))
    // parse split leads the manifest; the corrupt line went to quarantine
    assert(r1.stages.head == CurationPipeline.StageCount("jsonl_parse", 8L, 7L))
    assert(r2.stages.head == CurationPipeline.StageCount("jsonl_parse", 5L, 5L))
    assert(spark.read.parquet(s"$base/quarantine").count() == 1L)
    // same curated corpus as the DataFrame-input path
    val direct = Files.createTempDirectory("graft-pipe-direct").toString
    runBoth(direct)
    assert(curated(base) == curated(direct))
    // committed jsonl batches skip without re-reading the file
    assert(CurationPipeline.runJsonlBatch(
      spark, s"$dir/missing.jsonl", schema, "b2", cfg(base)).skipped)
  }

  test("streaming curation == offline batches on the same prefix; replay is a skip") {
    import graft.streaming.{BatchStore, CurationStream}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft-pipe-stream").toString
    val offline = Files.createTempDirectory("graft-pipe-off").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String)]
    val q = BatchStore.stream(input.toDF().toDF("doc_id", "source", "lang", "text"),
      s"$base/ckpt", Trigger.ProcessingTime(0))(CurationStream.processBatch(cfg(base), "s"))
      .start()
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    // the offline job with the stream's derived batch ids lands on the
    // identical curated corpus and store state
    CurationPipeline.runBatch(spark, df(batch1), "s0", cfg(offline))
    CurationPipeline.runBatch(spark, df(batch2), "s1", cfg(offline))
    assert(curated(base) == curated(offline))
    assert(curated(base).map(_._1) == Seq(1L, 2L, 8L))
    // a replayed micro-batch (failure between sink write and checkpoint
    // advance) hits the manifest commit marker and skips
    assert(CurationPipeline.runBatch(spark, df(batch2), "s1", cfg(base)).skipped)
  }

  test("streaming media curation == offline media batches on the same prefix; replay is a skip") {
    import graft.streaming.{BatchStore, CurationStream}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft-pipe-mstream").toString
    val offline = Files.createTempDirectory("graft-pipe-moff").toString
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq(0L, 1L, 3L, 6L, 771L) // 771 = within-batch dup of 3; 1 undecodable
    val b2 = Seq(768L, 9L) // 768 = cross-batch dup of shipped 0
    def payloads(ids: Seq[Long]) = mediaFor(ids)
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])].collect().toSeq
    val input = MemoryStream[(Long, Array[Byte])]
    val q = BatchStore.stream(input.toDF().toDF("media_id", "payload"),
      s"$base/ckpt", Trigger.ProcessingTime(0))(CurationStream.processMediaBatch(cfg(base), "s"))
      .start()
    input.addData(payloads(b1): _*)
    q.processAllAvailable()
    input.addData(payloads(b2): _*)
    q.processAllAvailable()
    q.stop()
    // offline job with the stream's derived batch ids -> identical curated
    // manifest and store state
    CurationPipeline.runMediaBatch(spark, mediaFor(b1), "s0", cfg(offline))
    CurationPipeline.runMediaBatch(spark, mediaFor(b2), "s1", cfg(offline))
    assert(mediaCurated(base) == mediaCurated(offline))
    assert(mediaCurated(base) == Set(0L, 3L, 6L, 9L))
    // a replayed micro-batch hits the media manifest commit marker and skips
    assert(CurationPipeline.runMediaBatch(spark, mediaFor(b2), "s1", cfg(base)).skipped)
  }

  test("optional span-cut stage deletes residual duplicated spans in place") {
    // two surviving docs share one 4-token run (1 of 16 windows each —
    // far under maxDupFrac, so the screen keeps both); with cutSpans on,
    // the run is deleted from BOTH and everything else survives the gate
    // long enough that 1/n_bigrams clears the 0.05 repetition threshold
    // post-cut (the gate's tuned constants assume real-length documents)
    val shared = Seq("zz1", "zz2", "zz3", "zz4")
    val t1 = (Seq("the", "and", "of") ++ (1 to 9).map(i => s"p$i") ++
      shared ++ (10 to 24).map(i => s"p$i")).mkString(" ")
    val t2 = (Seq("the", "and", "of") ++ (1 to 6).map(i => s"q$i") ++
      shared ++ (7 to 24).map(i => s"q$i")).mkString(" ")
    val base = Files.createTempDirectory("graft-pipe-cut").toString
    val r = CurationPipeline.runBatch(spark,
      Seq((1L, "a", "en", t1), (2L, "a", "en", t2))
        .toDF("doc_id", "source", "lang", "text"),
      "b1", cfg(base).copy(cutSpans = true, minhashThreshold = 0.99))
    assert(r.stages.map(_.stage) == Seq("scrub", "exact_dedup",
      "minhash_dedup", "span_screen", "span_cut", "quality_gate"))
    assert(r.stages.map(s => (s.stage, s.rowsOut)).forall(_._2 == 2L),
      r.stages.toString)
    val got = curated(base)
    assert(got.map(_._1) == Seq(1L, 2L))
    val expect1 = t1.split(" ").filterNot(shared.contains).mkString(" ")
    val expect2 = t2.split(" ").filterNot(shared.contains).mkString(" ")
    assert(got.map(_._2) == Seq(expect1, expect2))
  }

  test("optional decontamination stage drops eval-overlapping docs via the store") {
    // the eval set contains doc 1's exact text -> 100% trigram overlap;
    // doc 2 shares nothing above threshold and ships
    val evalDir = Files.createTempDirectory("graft-eval").toString
    Seq(("t1", d1)).toDF("test_id", "text")
      .write.mode("overwrite").parquet(s"$evalDir/evalset")
    val base = Files.createTempDirectory("graft-pipe-decon").toString
    val r = CurationPipeline.runBatch(spark, df(batch1), "b1",
      cfg(base).copy(decontaminationPath = Some(s"$evalDir/evalset")))
    assert(r.stages.map(s => (s.stage, s.rowsIn, s.rowsOut)).takeRight(2) == Seq(
      ("quality_gate", 5L, 2L), ("decontamination", 2L, 1L)))
    assert(curated(base).map(_._1) == Seq(2L))
  }

  test("optional vocab-coverage gate drops low-coverage docs") {
    // vocab = doc 1's own tokens: doc 1 covers 1.0, doc 2's fresh w_b_*
    // tokens (plus distinct stopwords) fall below 0.9 and drop
    val vocabDir = Files.createTempDirectory("graft-vocab").toString
    d1.split(" ").distinct.toSeq.toDF("term")
      .write.mode("overwrite").parquet(s"$vocabDir/vocab")
    val base = Files.createTempDirectory("graft-pipe-cov").toString
    val r = CurationPipeline.runBatch(spark, df(batch1), "b1",
      cfg(base).copy(coverageVocabPath = Some(s"$vocabDir/vocab"),
        minCoverage = 0.9))
    assert(r.stages.map(s => (s.stage, s.rowsIn, s.rowsOut)).takeRight(2) == Seq(
      ("quality_gate", 5L, 2L), ("coverage_gate", 2L, 1L)))
    assert(curated(base).map(_._1) == Seq(1L))
  }

  test("pipeline + epoch sharding is deterministic across base dirs") {
    val baseA = Files.createTempDirectory("graft-pipeA").toString
    val baseB = Files.createTempDirectory("graft-pipeB").toString
    runBoth(baseA)
    runBoth(baseB)
    assert(curated(baseA) == curated(baseB))

    def shards(base: String): (Seq[(String, Long, Long, Boolean)], Seq[(Long, Int, Long)]) = {
      val rep = CurationPipeline.shardEpoch(spark, cfg(base), epoch = 1)
        .select("partition", "n_files", "target_files", "needs_compaction")
        .as[(String, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
      val rows = spark.read.parquet(s"$base/epochs/epoch=1")
        .select(col("doc_id"), col("shard"), col("shard_pos"))
        .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
      (rep, rows)
    }
    val (repA, rowsA) = shards(baseA)
    val (repB, rowsB) = shards(baseB)
    assert(rowsA == rowsB)
    assert(rowsA.map(_._1) == Seq(1L, 2L, 8L)) // every curated doc exactly once
    // one task wrote each shard: compact by construction, audit agrees
    assert(repA == repB && repA.forall(r => r._2 == 1L && !r._4))
  }

  // ---- media face -------------------------------------------------------

  /** Synthesized media rows for the given ids. Ids ≡ mod 768 carry
    * byte-identical pixel laws in block 0 (same w/h/phase), so they are
    * the exact perceptual duplicates the store probe must catch; id 1 is
    * an audio row whose opaque payload is undecodable and must drop at
    * the fingerprint stage. */
  private def mediaFor(ids: Seq[Long]) =
    graft.multimodal.Multimodal.synthesizeMedia(
      ids.map(i => (i, s"text for $i")).toDF("doc_id", "text"),
      "doc_id", "text")

  private def mediaCurated(base: String): Set[Long] =
    spark.read.parquet(s"$base/media_curated")
      .select("media_id").as[Long].collect().toSet

  test("media batches: decode gate, within-batch and cross-batch perceptual drops") {
    val base = Files.createTempDirectory("graft-pipe-media").toString
    // batch 1: images 0/3/6, 771 (= 3 + 768: within-batch exact dup of 3),
    // and audio row 1 (undecodable -> fingerprint-stage drop)
    val r1 = CurationPipeline.runMediaBatch(
      spark, mediaFor(Seq(0L, 1L, 3L, 6L, 771L)), "b1", cfg(base))
    assert(r1.stages.map(s => (s.stage, s.rowsIn, s.rowsOut)) == Seq(
      ("fingerprint", 5L, 4L), ("media_dedup", 4L, 3L)))
    assert(mediaCurated(base) == Set(0L, 3L, 6L))
    // batch 2: 768 duplicates batch 1's shipped 0 (the STORE must catch
    // it — within-batch pairing alone cannot), 9 is fresh
    val r2 = CurationPipeline.runMediaBatch(
      spark, mediaFor(Seq(768L, 9L)), "b2", cfg(base))
    assert(r2.stages.map(s => (s.stage, s.rowsIn, s.rowsOut)) == Seq(
      ("fingerprint", 2L, 2L), ("media_dedup", 2L, 1L)))
    assert(mediaCurated(base) == Set(0L, 3L, 6L, 9L))
    // the store holds survivors' band rows only (4 bands per kept id)
    assert(spark.read.parquet(s"$base/stores/media_bands")
      .select("id").distinct().as[Long].collect().toSet == Set(0L, 3L, 6L, 9L))
  }

  test("media batches: a re-delivered already-shipped id drops instead of shipping twice") {
    // the (id, id) self-pair the incremental probe suppresses was the only
    // store pair that could catch an at-least-once source re-delivering a
    // shipped asset under a NEW batch id — the store-id guard drops it
    val base = Files.createTempDirectory("graft-pipe-media").toString
    CurationPipeline.runMediaBatch(spark, mediaFor(Seq(0L, 3L)), "b1", cfg(base))
    val r2 = CurationPipeline.runMediaBatch(
      spark, mediaFor(Seq(0L, 9L)), "b2", cfg(base)) // 0 re-delivered
    assert(r2.stages.map(s => (s.stage, s.rowsIn, s.rowsOut)) == Seq(
      ("fingerprint", 2L, 2L), ("media_dedup", 2L, 1L)))
    assert(mediaCurated(base) == Set(0L, 3L, 9L)) // 0 shipped exactly once
    // and the store carries 0's band rows exactly once (4 bands per id)
    val store = spark.read.parquet(s"$base/stores/media_bands")
    assert(store.groupBy("id").count().filter(col("count") =!= 4).count() == 0)
  }

  test("media batches: committed replay is a skip; crash replay lands identical state") {
    val base = Files.createTempDirectory("graft-pipe-media").toString
    CurationPipeline.runMediaBatch(spark, mediaFor(Seq(0L, 3L)), "b1", cfg(base))
    CurationPipeline.runMediaBatch(spark, mediaFor(Seq(768L, 9L)), "b2", cfg(base))
    val before = mediaCurated(base)
    val storeBefore = spark.read.parquet(s"$base/stores/media_bands")
      .select("id", "bno", "bk").as[(Long, Int, Int)].collect().toSet

    val again = CurationPipeline.runMediaBatch(
      spark, mediaFor(Seq(768L, 9L)), "b2", cfg(base))
    assert(again.skipped)
    assert(again.stages.map(_.stage) == Seq("fingerprint", "media_dedup"))

    // crash AFTER data writes, BEFORE the marker: delete only b2's
    // manifest — the replay must redo b2 against b1-only store state (its
    // own partial partition is excluded) and land byte-identically
    val mfs = new org.apache.hadoop.fs.Path(s"$base/media_manifests/batch=b2")
    mfs.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(mfs, true)
    val replay = CurationPipeline.runMediaBatch(
      spark, mediaFor(Seq(768L, 9L)), "b2", cfg(base))
    assert(!replay.skipped)
    assert(mediaCurated(base) == before)
    assert(spark.read.parquet(s"$base/stores/media_bands")
      .select("id", "bno", "bk").as[(Long, Int, Int)].collect().toSet == storeBefore)
  }

  // ---- preference face --------------------------------------------------

  /** Judgment fixture: annotators 1/2 are reliable (vote the designed
    * majority), annotator 3 contradicts it on every pair it touches and
    * has enough rows to be screened. Pairs: (1,2) majority 1; (3,4)
    * majority 3. */
  private def prefJ(rows: Seq[(Long, Long, Long, Long)]) =
    rows.toDF("annotator", "first", "second", "winner")

  private val reliableRows = Seq(
    (1L, 1L, 2L, 1L), (1L, 2L, 1L, 1L), (1L, 3L, 4L, 3L),
    (2L, 1L, 2L, 1L), (2L, 4L, 3L, 3L), (2L, 3L, 4L, 3L))
  private val noisyRows = Seq(
    (3L, 1L, 2L, 2L), (3L, 2L, 1L, 2L), (3L, 3L, 4L, 4L),
    (3L, 4L, 3L, 4L), (3L, 1L, 2L, 2L))

  test("preference batches: counts grain, screen, fit — equals the one-shot composition") {
    val base = Files.createTempDirectory("graft-pipe-pref").toString
    val all = reliableRows ++ noisyRows
    // two drops in arbitrary split; the noisy annotator's rows straddle
    val (d1, d2) = all.splitAt(7)
    val r1 = CurationPipeline.runPreferenceBatch(spark, prefJ(d1), "b1", cfg(base))
    assert(r1.stages.head.stage == "pref_counts" && r1.stages.head.rowsIn == 7L)
    val r2 = CurationPipeline.runPreferenceBatch(spark, prefJ(d2), "b2", cfg(base))
    // after all drops: annotator 3 has 5 rows, agreement 0 bp -> screened;
    // annotators 1/2 agree with the majority everywhere -> kept
    assert(r2.stages.map(_.stage) == Seq("pref_counts", "annotator_screen", "bt_fit"))
    assert(r2.stages(1).rowsIn == 3L && r2.stages(1).rowsOut == 2L,
      s"screen: ${r2.stages(1)}")
    assert(r2.stages(2).rowsIn == 6L, "fit mass = kept annotators' judgments")
    // the committed fit snapshot equals the one-shot composition over the
    // kept annotators' judgments
    val snapshot = spark.read.parquet(s"$base/pref_strengths/batch=b2")
      .select("item", "wins", "score").as[(Long, Long, Long)].collect().toSet
    val oneShot = graft.operators.Preference.bradleyTerryFixedPoint(
        prefJ(reliableRows)
          .select(col("winner"),
            (col("first") + col("second") - col("winner")).as("loser")),
        "winner", "loser")
      .as[(Long, Long, Long)].collect().toSet
    assert(snapshot == oneShot && oneShot.nonEmpty,
      s"snapshot=$snapshot oneShot=$oneShot")
  }

  test("preference batches: committed replay is a skip; crash replay lands identical state") {
    val base = Files.createTempDirectory("graft-pipe-pref").toString
    CurationPipeline.runPreferenceBatch(spark, prefJ(reliableRows), "b1", cfg(base))
    val r2 = CurationPipeline.runPreferenceBatch(spark, prefJ(noisyRows), "b2", cfg(base))
    assert(!r2.skipped)
    val storeBefore = spark.read.parquet(s"$base/stores/pref_counts")
      .select("annotator", "lo", "hi", "lo_win", "n")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val fitBefore = spark.read.parquet(s"$base/pref_strengths/batch=b2")
      .select("item", "wins", "score").as[(Long, Long, Long)].collect().toSet
    // committed replay: skip, nothing recomputed, manifest readback
    val r2again = CurationPipeline.runPreferenceBatch(
      spark, prefJ(noisyRows), "b2", cfg(base))
    assert(r2again.skipped &&
      r2again.stages.map(s => (s.stage, s.rowsIn, s.rowsOut)) ==
        r2.stages.map(s => (s.stage, s.rowsIn, s.rowsOut)))
    // crash replay: manifest gone, partitions present -> identical bytes
    val (fsys, mp) = {
      val p = new org.apache.hadoop.fs.Path(s"$base/pref_manifests/batch=b2")
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    fsys.delete(mp, true)
    val r2replay = CurationPipeline.runPreferenceBatch(
      spark, prefJ(noisyRows), "b2", cfg(base))
    assert(!r2replay.skipped)
    assert(spark.read.parquet(s"$base/stores/pref_counts")
      .select("annotator", "lo", "hi", "lo_win", "n")
      .as[(Long, Long, Long, Long, Long)].collect().toSet == storeBefore)
    assert(spark.read.parquet(s"$base/pref_strengths/batch=b2")
      .select("item", "wins", "score")
      .as[(Long, Long, Long)].collect().toSet == fitBefore)
  }

  test("preference batches: under-evidenced annotators keep; an all-screened drop commits an empty fit") {
    val base = Files.createTempDirectory("graft-pipe-pref").toString
    // annotator 3 alone, 5 contradicting... with no other annotators ITS
    // OWN votes ARE the majority -> agreement 10000 bp, kept. Use a
    // 2-row annotator (under minAnnotatorJudgments=5) voting against a
    // 5-row one: the small one disagrees with the majority but keeps.
    val rows = Seq(
      (7L, 1L, 2L, 1L), (7L, 1L, 2L, 1L), (7L, 1L, 2L, 1L),
      (7L, 1L, 2L, 1L), (7L, 1L, 2L, 1L),
      (8L, 1L, 2L, 2L), (8L, 2L, 1L, 2L))
    val r = CurationPipeline.runPreferenceBatch(spark, prefJ(rows), "b1", cfg(base))
    assert(r.stages(1).rowsIn == 2L && r.stages(1).rowsOut == 2L,
      s"under-evidenced annotator must keep: ${r.stages(1)}")
    // screen everything: raise the bar so annotator 8 (2 rows) keeps but
    // 7's perfect agreement still passes — instead screen via a config
    // demanding more agreement than anyone has on a split-vote corpus
    val base2 = Files.createTempDirectory("graft-pipe-pref").toString
    val split = Seq(
      (7L, 1L, 2L, 1L), (7L, 1L, 2L, 1L), (7L, 1L, 2L, 2L),
      (7L, 1L, 2L, 2L), (7L, 1L, 2L, 2L))
    val r2 = CurationPipeline.runPreferenceBatch(
      spark, prefJ(split), "b1",
      cfg(base2).copy(minAnnotatorAgreeBp = 9000L))
    // annotator 7: 3-of-5 with the majority = 6000 bp < 9000 -> screened;
    // fit commits empty rather than crashing
    assert(r2.stages(1).rowsOut == 0L && r2.stages(2).rowsOut == 0L)
    assert(spark.read.parquet(s"$base2/pref_strengths/batch=b1").count() == 0L)
  }
}
