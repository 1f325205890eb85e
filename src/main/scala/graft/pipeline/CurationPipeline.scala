package graft.pipeline

import graft.functions.{PortableHash => PH, SimilarityFunctions => SF, TextFunctions => TF, TextScrub}
import graft.operators.{Dedup, Layout, Mixing, Profiling, Sharding}
import graft.streaming.BatchStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The end-to-end incremental curation pipeline — the job the operator
  * library exists to ship: each arriving corpus batch is scrubbed,
  * deduplicated against everything ever seen (exact, MinHash near-dup,
  * duplicated-span), quality-gated, and appended to the curated corpus;
  * a separate epoch step deals the accumulated corpus into deterministic
  * training shards. Every stage is one of the already-oracled operators
  * (TextScrub q61, incremental exact q65, incremental MinHash q60,
  * incremental span screen q74, optional residual span cut q87, curation
  * gate q76, optional benchmark decontamination q59, Mixing q63,
  * Sharding q70) — this file adds ORCHESTRATION, not new math.
  *
  * Restartability contract (the GoldRefresh idea applied to corpus state):
  * all state lives in parquet under `baseDir`, and every root is a
  * [[graft.streaming.BatchStore]]: a batch writes only `batch=<id>/`
  * subdirectories it OWNS and overwrites whole, and its store reads skip
  * its own partitions, so a crashed run leaves nothing a re-run can
  * observe — re-running a batch is idempotent and byte-deterministic. The
  * one-row-per-stage manifest is written LAST as the commit marker; a
  * batch whose manifest exists is skipped entirely on re-run ([[commit]]).
  * Batches are a SERIAL log: run them one at a time per base dir (a
  * concurrent batch could observe another's half-written store partition
  * — the store reads only exclude the reader's OWN batch).
  *
  * ```
  * baseDir/
  *   stores/exact_fp/batch=<id>/       content fingerprints ever shipped
  *   stores/minhash_bands/batch=<id>/  LSH band table of shipped docs
  *   stores/span_hashes/batch=<id>/    distinct span-window hashes seen
  *   curated/batch=<id>/               the shipped curated documents
  *   manifests/batch=<id>/             per-stage counts; commit marker
  *   epochs/epoch=<n>/shard=<k>/       training shards (epoch step)
  * ```
  *
  * 100 TB posture: only the BATCH is ever fingerprinted/banded/hashed —
  * stores are probed by co-located equi-joins and appended, never
  * recomputed (bucket the store dirs by their join key at cluster scale).
  * Per-stage counts come from one `count` action per stage over persisted
  * intermediates. The epoch step's only corpus shuffle is the shard
  * repartition that IS the output layout, and writing one task per shard
  * makes the output compact by construction — `shardEpoch` returns the
  * compaction report over the freshly written epoch as the audit.
  */
object CurationPipeline {

  /** All knobs of a pipeline instance. Defaults match the oracled query
    * constants (q42 repetition thresholds, q62 p25 length gate, q68
    * 8-token span windows, q18-family LSH shape). `budgetTokens <= 0`
    * disables the mixing stage; empty `weightsPpm` means uniform shares. */
  final case class Config(
      baseDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source",
      langCol: String = "lang",
      windowTokens: Int = 8,
      maxDupFrac: Double = 0.5,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      rowsPerBand: Int = 4,
      minhashThreshold: Double = 0.5,
      maxBucket: Int = 1000,
      topTokenFrac: Double = 0.1,
      topBigramFrac: Double = 0.05,
      budgetTokens: Long = 0L,
      weightsPpm: Map[String, Long] = Map.empty,
      numShards: Int = 8,
      targetShardBytes: Long = 1L << 30,
      cutSpans: Boolean = false,
      decontaminationPath: Option[String] = None,
      decontaminationN: Int = 3,
      decontaminationOverlap: Double = 0.5,
      coverageVocabPath: Option[String] = None,
      minCoverage: Double = 0.5,
      // preference face: annotators with >= minAnnotatorJudgments rows
      // and majority-agreement below minAnnotatorAgreeBp basis points
      // are screened out of the strength fit
      minAnnotatorAgreeBp: Long = 6000L,
      minAnnotatorJudgments: Long = 5L)

  /** One row per pipeline stage: how many documents entered and survived. */
  final case class StageCount(stage: String, rowsIn: Long, rowsOut: Long)

  /** Result of one batch run. `skipped` = the batch was already committed
    * and nothing was recomputed. */
  final case class BatchReport(
      batchId: String, skipped: Boolean, stages: Seq[StageCount])

  /** The commit protocol every face shares: a batch whose manifest under
    * `manifestRoot` exists is skipped and reports the committed stages;
    * otherwise `run` writes the batch's partitions and returns its stage
    * counts, and the manifest is written LAST as the commit marker. */
  private def commit(spark: SparkSession, manifestRoot: String, batchId: String)(
      run: => Seq[StageCount]): BatchReport = {
    BatchStore.requireId(batchId)
    if (BatchStore.exists(spark, s"$manifestRoot/batch=$batchId")) {
      val m = spark.read.parquet(s"$manifestRoot/batch=$batchId")
        .orderBy("idx").select("stage", "rows_in", "rows_out")
        .collect().map(r => StageCount(r.getString(0), r.getLong(1), r.getLong(2)))
      return BatchReport(batchId, skipped = true, m.toSeq)
    }
    val manifest = run
    import spark.implicits._
    BatchStore.write(
      manifest.zipWithIndex
        .map { case (s, i) => (i, s.stage, s.rowsIn, s.rowsOut) }
        .toDF("idx", "stage", "rows_in", "rows_out"),
      manifestRoot, batchId)
    BatchReport(batchId, skipped = false, manifest)
  }

  /** The q76 keep/drop verdict as an operator over any frame: repetition
    * rule (q42 thresholds) + stopword language-id agreement (q15 kernel)
    * + per-language exact-p25 length gate (q62 kernel, thresholds from
    * THIS batch). Adds `keep`. */
  def qualityGate(docs: DataFrame, cfg: Config): DataFrame = {
    val id = col(cfg.idCol)
    // repetition (q42): n-grams travel as xxhash64, counts over hashes
    val toks = docs.select(id.as("__qid"),
      explode(split(trim(lower(col(cfg.textCol))), "\\s+")).as("tok"))
      .select(col("__qid"), xxhash64(col("tok")).as("t"))
    val uni = toks.groupBy("__qid", "t").agg(count(lit(1)).as("c"))
      .groupBy("__qid").agg(
        sum(col("c")).as("__nt"),
        max(col("c")).as("__topt"))
    val bi = docs.select(id.as("__qid"),
      explode(SF.tokenShingleHashes(col(cfg.textCol), 2)).as("h"))
      .groupBy("__qid", "h").agg(count(lit(1)).as("c"))
      .groupBy("__qid").agg(
        sum(col("c")).as("__nb"),
        max(col("c")).as("__topb"))
    val repetitive = uni.join(bi, Seq("__qid"), "left")
      .select(col("__qid"),
        (col("__topt").cast("double") / col("__nt") > cfg.topTokenFrac ||
          col("__topb").cast("double") / col("__nb") > cfg.topBigramFrac)
          .as("__repetitive"))
    // language id agreement (q15): argmax stopword hits vs the label
    val langs = Seq(
      "en" -> Seq("the", "and", "of"),
      "es" -> Seq("el", "la", "de"),
      "de" -> Seq("der", "und", "die"))
    val scored = langs.foldLeft(docs) { case (d, (l, ws)) =>
      d.withColumn(s"__${l}_hits", TF.stopwordHits(col(cfg.textCol), ws))
    }
    val langOk = scored.select(id.as("__qid"),
      (TF.argMaxLang(langs.map { case (l, _) => l -> col(s"__${l}_hits") })
        === col(cfg.langCol)).as("__lang_ok"))
    // per-language exact-p25 length gate (q62) over this batch
    val lens = docs.select(id.as("__qid"), col(cfg.langCol),
      length(col(cfg.textCol)).cast("long").as("__len"))
    val p25 = Profiling.exactQuantilesByKey(lens, cfg.langCol, "__len", Seq(0.25))
      .select(col(cfg.langCol), col("value").as("__p25"))
    val lenOk = lens.join(broadcast(p25), cfg.langCol)
      .select(col("__qid"), (col("__len") >= col("__p25")).as("__len_ok"))
    docs
      .join(repetitive, id === col("__qid"), "left").drop("__qid")
      .join(langOk, id === col("__qid"), "left").drop("__qid")
      .join(lenOk, id === col("__qid"), "left").drop("__qid")
      .withColumn("keep",
        !coalesce(col("__repetitive"), lit(false)) &&
          coalesce(col("__lang_ok"), lit(false)) &&
          coalesce(col("__len_ok"), lit(false)))
      .drop("__repetitive", "__lang_ok", "__len_ok")
  }

  /** Run ONE batch through the whole pipeline, reading and appending the
    * incremental stores under `cfg.baseDir`. Deterministic, idempotent,
    * restartable (see object doc). */
  def runBatch(
      spark: SparkSession,
      rawDocs: DataFrame,
      batchId: String,
      cfg: Config): BatchReport =
    runBatch(spark, rawDocs, batchId, cfg, Nil)

  /** [[runBatch]] with source-stage counts prepended to the manifest —
    * used by the ingest faces (e.g. [[runJsonlBatch]]'s parse/quarantine
    * split) so the committed manifest covers the whole journey. */
  def runBatch(
      spark: SparkSession,
      rawDocs: DataFrame,
      batchId: String,
      cfg: Config,
      preStages: Seq[StageCount]): BatchReport = {
    require(!rawDocs.columns.contains("batch"),
      "column name batch is reserved (store partition column)")
    commit(spark, s"${cfg.baseDir}/manifests", batchId) {
      val id = col(cfg.idCol)
      val counts = scala.collection.mutable.ArrayBuffer.empty[StageCount]
      counts ++= preStages
      def staged(name: String, in: Long, out: DataFrame): (DataFrame, Long) = {
        val p = out.persist(StorageLevel.MEMORY_AND_DISK)
        val n = p.count()
        counts += StageCount(name, in, n)
        (p, n)
      }

      // 1. scrub: pure projection (q61 kernel); also the token count the
      //    mixing stage needs — computed once on the scrubbed text
      val nIn = rawDocs.count()
      val (scrubbed, nScrub) = staged("scrub", nIn,
        rawDocs.withColumn(cfg.textCol, TextScrub.scrub(col(cfg.textCol)))
          .withColumn("n_tokens", TF.tokenCount(col(cfg.textCol))))

      // 2. exact dedup vs store + within batch (q65): only first-ever
      //    fingerprints ship, and within the batch only the min-id doc
      val fpStore = BatchStore.readExcept(spark, s"${cfg.baseDir}/stores/exact_fp", batchId,
        scrubbed.select(TF.fingerprint(col(cfg.textCol)).as("fp")))
      val newFps = Dedup.incrementalExactNew(scrubbed, fpStore, cfg.idCol, cfg.textCol)
      val (exactKept, nExact) = staged("exact_dedup", nScrub,
        scrubbed.join(
          newFps.select(col("keep_id").as(cfg.idCol)), Seq(cfg.idCol), "left_semi"))

      // 3. MinHash near-dup vs store + within batch (q60): a batch doc is
      //    dropped when it pairs above threshold with a store doc (store
      //    wins — shipped docs are never retracted) or with a smaller-id
      //    batch doc
      val bandRoot = s"${cfg.baseDir}/stores/minhash_bands"
      val newBand = Dedup.minhashBandTable(exactKept, cfg.idCol, cfg.textCol,
        cfg.shingleSize, cfg.numHashes, cfg.rowsPerBand)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val bandStore = BatchStore.readExcept(spark, bandRoot, batchId, newBand)
      val pairs = Dedup.minhashIncrementalPairs(
        newBand, bandStore, cfg.numHashes, cfg.maxBucket)
        .filter(col("est_jaccard") >= cfg.minhashThreshold)
      val batchIds = exactKept.select(id.as("__bid"))
      val marked = pairs
        .join(batchIds, col("id_a") === col("__bid"), "left")
        .withColumn("__a_new", col("__bid").isNotNull).drop("__bid")
        .join(batchIds, col("id_b") === col("__bid"), "left")
        .withColumn("__b_new", col("__bid").isNotNull).drop("__bid")
      val drops = marked.select(
        // both new -> drop the greater id; crossing -> drop the new side
        when(col("__a_new") && col("__b_new"), col("id_b"))
          .when(col("__a_new"), col("id_a"))
          .otherwise(col("id_b")).as(cfg.idCol)).distinct()
      val (nearKept, nNear) = staged("minhash_dedup", nExact,
        exactKept.join(drops, Seq(cfg.idCol), "left_anti"))

      // 4. duplicated-span screen vs store + within batch (q74): drop docs
      //    whose duplicated-window fraction exceeds maxDupFrac
      val spanRoot = s"${cfg.baseDir}/stores/span_hashes"
      val spanStore = BatchStore.readExcept(spark, spanRoot, batchId,
        Dedup.spanWindowHashes(nearKept.limit(0), cfg.idCol, cfg.textCol,
          cfg.windowTokens).select("h"))
      val spanDrops = Dedup.duplicatedSpansIncremental(
        nearKept, spanStore, cfg.idCol, cfg.textCol, cfg.windowTokens)
        .filter(col("dup_frac") > cfg.maxDupFrac)
        .select(col("id").as(cfg.idCol))
      val (spanKept, nSpan) = staged("span_screen", nNear,
        nearKept.join(spanDrops, Seq(cfg.idCol), "left_anti"))

      // 4b. optional residual-span CUT (q87): egregious duplicates are
      //     already dropped; survivors get their remaining duplicated spans
      //     deleted in place (the full Lee et al. treatment — remove spans,
      //     keep documents). Within-batch only: ranges come from cross-doc
      //     duplication among the survivors (store-held spans were the drop
      //     criterion above). Token counts refresh for the mixing budget.
      val (cutDone, nCut) =
        if (!cfg.cutSpans) (spanKept, nSpan)
        else staged("span_cut", nSpan, {
          val cut = Dedup.cutDuplicatedSpans(
            spanKept, cfg.idCol, cfg.textCol, cfg.windowTokens)
            .select(col("id").as(cfg.idCol), col("text").as("__cut_text"))
          spanKept.join(cut, Seq(cfg.idCol), "left")
            .withColumn(cfg.textCol, coalesce(col("__cut_text"), col(cfg.textCol)))
            .drop("__cut_text")
            .withColumn("n_tokens", TF.tokenCount(col(cfg.textCol)))
        })

      // 5. quality gate (q76)
      val (gated, nGate) = staged("quality_gate", nCut,
        qualityGate(cutDone, cfg).filter(col("keep")).drop("keep"))

      // 5b. optional benchmark decontamination (q59): drop documents whose
      //     distinct n-gram overlap with any eval-set item reaches the
      //     threshold — the leakage check a corpus runs before shipping.
      //     The eval set lives in parquet with (test_id, text) columns.
      val (decon, nDecon) = cfg.decontaminationPath match {
        case None => (gated, nGate)
        case Some(p) => staged("decontamination", nGate, {
          val hits = graft.operators.Decontamination.contaminationReport(
            gated, cfg.idCol, cfg.textCol,
            spark.read.parquet(p), "test_id", "text",
            cfg.decontaminationN, cfg.decontaminationOverlap)
            .select(col("doc_id").as(cfg.idCol)).distinct()
          gated.join(hits, Seq(cfg.idCol), "left_anti")
        })
      }

      // 5c. optional vocabulary-coverage gate (q93): drop documents whose
      //     token coverage against a trusted reference vocabulary (parquet
      //     with a `term` column, e.g. TextSearch.buildVocab over a clean
      //     slice) falls below minCoverage — the CCNet-style LM filter.
      val (covered, nCov) = cfg.coverageVocabPath match {
        case None => (decon, nDecon)
        case Some(p) => staged("coverage_gate", nDecon, {
          val keep = graft.operators.TextSearch.vocabCoverage(
            decon.select(col(cfg.idCol), col(cfg.textCol)),
            cfg.idCol, cfg.textCol,
            spark.read.parquet(p).select("term"))
            .filter(col("coverage") >= cfg.minCoverage)
            .select(col(cfg.idCol))
          decon.join(keep, Seq(cfg.idCol), "left_semi")
        })
      }

      // 6. domain mixing to the token budget (q63), if configured
      val (mixed, nMix) =
        if (cfg.budgetTokens <= 0L) (covered, nCov)
        else staged("mixing", nCov, {
          val m =
            if (cfg.weightsPpm.nonEmpty)
              Mixing.mixByTokenBudget(covered, cfg.idCol, cfg.sourceCol,
                "n_tokens", cfg.budgetTokens, cfg.weightsPpm)
            else Mixing.mixUniform(covered, cfg.idCol, cfg.sourceCol,
              "n_tokens", cfg.budgetTokens)
          m.drop("rate_ppm")
        })

      // 7. persist batch-owned partitions (the manifest follows in commit).
      //    What each store absorbs: exact_fp takes every NEW fingerprint
      //    (content dropped by a later gate must still dedupe future exact
      //    repeats); the band store takes near-dup SURVIVORS only (a dropped
      //    near-dup would just flood the buckets its keeper already covers);
      //    the span store takes the minhash survivors' hashes (everything
      //    the span stage evaluated), anti-joined to stay a set.
      BatchStore.write(newFps.select("fp"), s"${cfg.baseDir}/stores/exact_fp", batchId)
      BatchStore.write(
        newBand.join(nearKept.select(id.as("id")), Seq("id"), "left_semi"),
        bandRoot, batchId)
      BatchStore.write(
        Dedup.spanWindowHashes(nearKept, cfg.idCol, cfg.textCol, cfg.windowTokens)
          .select("h").distinct()
          .join(spanStore, Seq("h"), "left_anti"),
        spanRoot, batchId)
      BatchStore.write(mixed, s"${cfg.baseDir}/curated", batchId)

      Seq(scrubbed, exactKept, newBand, nearKept, spanKept, cutDone, gated,
        decon, covered, mixed).foreach(_.unpersist(blocking = false))
      counts.toSeq
    }
  }

  /** The MEDIA face of [[runBatch]] — the multimodal corpus needs the
    * composed job, not just the q229/q233 queries: each arriving batch of
    * media payloads is decoded ONCE through the real JDK codec and
    * perceptually fingerprinted ([[graft.multimodal.Multimodal
    * .aHashBands]]), the fingerprints probe the accumulated band store
    * ([[Dedup.aHashIncrementalPairs]] — the [[graft.streaming
    * .MediaDedupStream]] topology as a batch stage), near-dups are
    * dropped manifest-style (store wins — shipped media are never
    * retracted; within the batch the min-id asset wins, the text
    * pipeline's minhash policy), and the survivors' fingerprints append
    * to the store.
    *
    * Same restartability contract as [[runBatch]]: every write goes to a
    * batch-owned `batch=<id>/` partition overwritten whole, store reads
    * exclude the running batch's own partition, and the one-row-per-stage
    * manifest is written LAST as the commit marker (a committed batch is
    * skipped on re-run; an uncommitted crash replays byte-identically).
    * Media state lives under its own namespaces (`stores/media_bands`,
    * `media_curated`, `media_manifests`) so a text batch and a media
    * batch may share a batch id.
    *
    * 100 TB posture: payloads are decoded once and NEVER stored — the
    * curated output is `(media_id, bands)` (the keep manifest + its
    * fingerprint; payload bytes stay in the object store, keyed by id),
    * and the band store carries fingerprints only, so the corpus state is
    * GBs against a 100 TB payload universe. Undecodable payloads drop at
    * the fingerprint stage (no perceptual identity — route them to a
    * checksum-dedup lane).
    *
    * Stages: `fingerprint` (decodable payloads → distinct-id hashes),
    * `media_dedup` (store + within-batch near-dup drop at Hamming ≤ 3). */
  def runMediaBatch(
      spark: SparkSession,
      rawMedia: DataFrame,
      batchId: String,
      cfg: Config): BatchReport =
    commit(spark, s"${cfg.baseDir}/media_manifests", batchId) {
      val counts = scala.collection.mutable.ArrayBuffer.empty[StageCount]
      val nIn = rawMedia.count()

      // 1. decode + fingerprint: ONE codec pass per payload, per-partition
      //    codec init inside aHashBands; undecodable payloads drop here
      val hashes = graft.multimodal.Multimodal.aHashBands(rawMedia)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nFp = hashes.count()
      counts += StageCount("fingerprint", nIn, nFp)

      // 2. perceptual dedup vs store + within batch: pairs at Hamming <= 3,
      //    store side always wins, within the batch the smaller id wins.
      //    An id ALREADY IN THE STORE (an at-least-once source re-delivering
      //    a shipped asset in a later batch) is dropped outright first: its
      //    only store pair would be the (id, id) self-pair the incremental
      //    probe correctly suppresses, so without this guard a re-delivery
      //    would ship twice and append duplicate band rows.
      val bandRoot = s"${cfg.baseDir}/stores/media_bands"
      val bandStore = BatchStore.readExcept(spark, bandRoot, batchId,
        Dedup.aHashBandTable(hashes.limit(0), "media_id", "bands"))
      val fresh = hashes.join(
        bandStore.select(col("id").as("media_id")).distinct(),
        Seq("media_id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val newBand = Dedup.aHashBandTable(fresh, "media_id", "bands")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val pairs = Dedup.aHashIncrementalPairs(
        newBand, bandStore, maxHamming = 3, maxBucket = cfg.maxBucket)
      val batchIds = fresh.select(col("media_id").as("__bid"))
      val marked = pairs
        .join(batchIds, col("id_a") === col("__bid"), "left")
        .withColumn("__a_new", col("__bid").isNotNull).drop("__bid")
        .join(batchIds, col("id_b") === col("__bid"), "left")
        .withColumn("__b_new", col("__bid").isNotNull).drop("__bid")
      // Within-batch drop policy is PER-PAIR (chain-drop), deliberately:
      // in a new-item chain A<B<C with pairs (A,B),(B,C) but not (A,C),
      // BOTH B and C drop even though C's only matching keeper B is itself
      // dropped — one-pass, no iterative connected components inside the
      // ingest hot path, and identical to the text minhash stage's policy
      // (runBatch dedup_minhash), so the two faces of the pipeline cull
      // the same way. This trades recall (transitively-near items may lose
      // more members than a component-keeper would) for a bounded
      // single-join stage; the component-resolved keeper is the OFFLINE
      // posture, shipped as q239/q243 (connected components + min-id
      // keeper at the rep grain) for corpus-wide sweeps.
      val drops = marked.select(
        when(col("__a_new") && col("__b_new"), col("id_b"))
          .when(col("__a_new"), col("id_a"))
          .otherwise(col("id_b")).as("media_id")).distinct()
      val kept = fresh.join(drops, Seq("media_id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nKept = kept.count()
      counts += StageCount("media_dedup", nFp, nKept)

      // 3. batch-owned persists (the manifest follows in commit). The band
      //    store takes dedup SURVIVORS only (a dropped near-dup would flood
      //    the buckets its keeper already covers).
      BatchStore.write(
        newBand.join(kept.select("media_id").withColumnRenamed("media_id", "id"),
          Seq("id"), "left_semi"),
        bandRoot, batchId)
      BatchStore.write(kept, s"${cfg.baseDir}/media_curated", batchId)
      Seq(hashes, fresh, newBand, kept).foreach(_.unpersist(blocking = false))
      counts.toSeq
    }

  /** The PREFERENCE face: incremental curation of pairwise human-judgment
    * drops (RLHF reward data) under the same batch contract as the text
    * and media faces — batch-owned `batch=<id>/` store partitions,
    * manifest written LAST as the commit marker (a committed batch is
    * skipped; an uncommitted crash replays byte-identically because every
    * write is a partition overwrite derived from the delivered rows).
    * Judgment columns: `(annotator, first, second, winner)` — positions
    * as shown, winner one of them.
    *
    * 100 TB posture: the judgment firehose is aggregated ON ARRIVAL to
    * the `(annotator, lo, hi, lo_win)` counts grain and never re-read —
    * the store is bounded by annotators × pairs, not judgments, and every
    * downstream readout (pair majority, annotator agreement, the
    * Bradley–Terry fit over screened annotators) is derivable from those
    * counts exactly (they add associatively, the
    * [[graft.streaming.PreferenceStream]] argument).
    *
    * Exactly-once contract: STABLE BATCH IDS. A replayed batch id
    * overwrites its own partitions (idempotent); the counts grain carries
    * no judgment ids, so a source that re-delivers the same judgments
    * under a NEW batch id double-counts them — unlike the media face,
    * which dedups re-deliveries by asset id against the store. That is
    * the price of never persisting the judgment grain; callers with an
    * unstable-id source should key batches by source offset ranges.
    *
    * Stages: `pref_counts` (judgments → counts-grain rows),
    * `annotator_screen` (annotators seen → annotators kept: agreement vs
    * the CURRENT corpus-wide pair majority, tie → smaller id; annotators
    * under `cfg.minAnnotatorJudgments` rows keep — insufficient
    * evidence), `bt_fit` (kept-annotator judgment mass → items fitted).
    * The fit snapshot lands in `pref_strengths/batch=<id>` (the newest
    * committed partition is the current model). */
  def runPreferenceBatch(
      spark: SparkSession,
      judgments: DataFrame,
      batchId: String,
      cfg: Config): BatchReport =
    commit(spark, s"${cfg.baseDir}/pref_manifests", batchId) {
      val counts = scala.collection.mutable.ArrayBuffer.empty[StageCount]
      val j = judgments.select(
        col("annotator").cast("long").as("annotator"),
        col("first").cast("long").as("fa"),
        col("second").cast("long").as("fb"),
        col("winner").cast("long").as("winner"))
      val nIn = j.count()

      // 1. judgment grain -> counts grain, once, on arrival
      val batchCounts = j
        .select(col("annotator"),
          least(col("fa"), col("fb")).as("lo"),
          greatest(col("fa"), col("fb")).as("hi"),
          when(col("winner") === least(col("fa"), col("fb")), lit(1L))
            .otherwise(lit(0L)).as("lo_win"))
        .groupBy("annotator", "lo", "hi", "lo_win")
        .agg(count(lit(1)).as("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nCountRows = batchCounts.count()
      counts += StageCount("pref_counts", nIn, nCountRows)
      val countsRoot = s"${cfg.baseDir}/stores/pref_counts"
      BatchStore.write(batchCounts, countsRoot, batchId)

      // 2. annotator screen against the WHOLE store (this batch included —
      //    its partition is already down, and a crash replay overwrites it
      //    with identical bytes)
      val store = BatchStore.read(spark, countsRoot)
        .groupBy("annotator", "lo", "hi", "lo_win").agg(sum(col("n")).as("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val majority = store.groupBy("lo", "hi")
        .agg(sum(when(col("lo_win") === 1L, col("n")).otherwise(0L)).as("lo_wins"),
          sum(col("n")).as("tot"))
        .select(col("lo"), col("hi"),
          when(col("lo_wins") * 2 >= col("tot"), col("lo")).otherwise(col("hi"))
            .as("majority"))
      val perAnnotator = store
        .join(broadcast(majority), Seq("lo", "hi"))
        .withColumn("w", when(col("lo_win") === 1L, col("lo")).otherwise(col("hi")))
        .groupBy("annotator")
        .agg(sum(col("n")).as("nj"),
          sum(when(col("w") === col("majority"), col("n")).otherwise(0L))
            .as("agree"))
      val kept = perAnnotator
        .filter(col("nj") < cfg.minAnnotatorJudgments ||
          expr("agree * 10000L div nj") >= cfg.minAnnotatorAgreeBp)
        .select("annotator")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nAnnotators = perAnnotator.count()
      val nKeptAnnotators = kept.count()
      counts += StageCount("annotator_screen", nAnnotators, nKeptAnnotators)

      // 3. BT fit over the kept annotators' counts (bounded aggregates in,
      //    |items| rows out)
      val fitCounts = store.join(kept, Seq("annotator"))
        .select(
          when(col("lo_win") === 1L, col("lo")).otherwise(col("hi")).as("w"),
          when(col("lo_win") === 1L, col("hi")).otherwise(col("lo")).as("l"),
          col("n"))
      val fitMass = fitCounts.agg(coalesce(sum(col("n")), lit(0L)).as("m"))
        .head().getLong(0)
      val strengths = (if (fitMass == 0L)
        // every annotator screened (or an empty drop): an empty fit, not a
        // crash — the manifest still commits the batch
        fitCounts.select(col("w").as("item"), col("n").as("wins"),
          col("n").as("score")).limit(0)
      else graft.operators.Preference
        .bradleyTerryFromCounts(fitCounts, "w", "l", "n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nItems = strengths.count()
      counts += StageCount("bt_fit", fitMass, nItems)
      BatchStore.write(strengths, s"${cfg.baseDir}/pref_strengths", batchId)
      Seq(batchCounts, store, kept, strengths).foreach(_.unpersist(blocking = false))
      counts.toSeq
    }

  /** The JSONL ingest face: parse `path` with the schema-enforced
    * [[graft.sources.JsonlCorpus]] source, write the corrupt-line
    * quarantine to a batch-owned partition, and run the good side through
    * [[runBatch]]. The manifest's first stage records the parse split
    * (lines in, documents out) so the committed record covers the corpus
    * from raw lines to curated rows. */
  def runJsonlBatch(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      batchId: String,
      cfg: Config): BatchReport = {
    if (BatchStore.exists(spark, s"${cfg.baseDir}/manifests/batch=$batchId"))
      return runBatch(spark, spark.emptyDataFrame, batchId, cfg) // skip path
    val parsed = graft.sources.JsonlCorpus.parse(spark, path, schema)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nLines = parsed.count()
      val docs = graft.sources.JsonlCorpus.documents(parsed)
      val quarantine = graft.sources.JsonlCorpus.quarantine(parsed)
      BatchStore.write(quarantine, s"${cfg.baseDir}/quarantine", batchId)
      val nDocs = nLines - quarantine.count()
      runBatch(spark, docs, batchId, cfg,
        Seq(StageCount("jsonl_parse", nLines, nDocs)))
    } finally parsed.unpersist(blocking = false)
  }

  /** Deal the accumulated curated corpus into `cfg.numShards` deterministic
    * training shards for `epoch` (q70 semantics: seedless md5 permutation,
    * byte-identical across reruns and cluster sizes). One task writes each
    * shard, so the layout is compact by construction — the returned
    * compaction report over the fresh epoch directory is the audit (every
    * shard should show `n_files <= target`). */
  def shardEpoch(spark: SparkSession, cfg: Config, epoch: Int): DataFrame = {
    require(BatchStore.exists(spark, s"${cfg.baseDir}/curated"),
      s"no curated corpus under ${cfg.baseDir} — run at least one batch first")
    val curated = BatchStore.read(spark, s"${cfg.baseDir}/curated")
    val outDir = s"${cfg.baseDir}/epochs/epoch=$epoch"
    Sharding.writeShards(curated, cfg.idCol, epoch, cfg.numShards, outDir)
    Layout.compactionReport(spark, outDir, cfg.targetShardBytes)
  }
}
