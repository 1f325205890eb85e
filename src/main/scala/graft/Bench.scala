package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Results are fully materialized through the noop
  * sink (a bare count() would let Catalyst prune all computed columns and
  * benchmark only the scan).
  *
  * Artifact durability contract (three rounds of timeout-killed driver
  * captures motivated this):
  *   1. BENCH.json is (re)written after EVERY completed section, so a
  *      killed run still leaves valid JSON.
  *   2. Sections this run does NOT measure (deselected via
  *      SPARK_GRAFT_SECTIONS, or skipped because the wall budget would be
  *      blown) are CARRIED FORWARD verbatim from the existing record
  *      (SPARK_GRAFT_BASE_JSON if set, else the current BENCH.json) — a
  *      partial run can therefore never make the committed artifact LESS
  *      complete than it was, only fresher. Carried sections are stamped
  *      in `carried_sections` + `carried_from`.
  *   3. A wall budget (SPARK_GRAFT_BUDGET_SEC, default 3300 s) is checked
  *      before each sf1 query / sf10 probe / the pipeline run: work whose
  *      estimate exceeds the remaining budget is SKIPPED WITH A LOGGED
  *      REASON (and carried from the prior record where available)
  *      instead of dying mid-query at the driver's timeout.
  */
object Bench {

  private def jstr(s: String): String =
    "\"" + s.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\""

  /** Persist the (so-far) record to the repo root. Called after every
    * completed section so a killed run still leaves parseable JSON; the
    * driver captures only the stdout tail, which has been truncated out of
    * the round artifact before — the file is the durable record. */
  private def writeOut(json: String): Unit = try {
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH.json"))
    java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
  } catch { case e: Throwable =>
    System.err.println(s"[bench] could not write BENCH.json: ${e.getMessage}")
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0) / 1e9
    val budgetSec = sys.env.get("SPARK_GRAFT_BUDGET_SEC")
      .map(_.toDouble).getOrElse(3300.0)
    def remainingSec: Double = budgetSec - elapsedSec
    def sectionDone(name: String): Unit = System.err.println(
      f"[bench] section $name done: elapsed=$elapsedSec%.0fs remaining=$remainingSec%.0fs of budget $budgetSec%.0fs")

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Which sections THIS run measures (suite,sf1,sf10,pipeline). The
    // driver sets nothing, so its run measures everything the budget
    // allows; a section-refresh run names just the sections it re-measures
    // and the rest is carried forward from the prior record.
    val sections: Set[String] = sys.env.get("SPARK_GRAFT_SECTIONS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set("suite", "sf1", "sf10", "pipeline"))

    // Carry-forward source: an explicit base artifact, else the existing
    // output file. Parsed leniently — an absent/corrupt file just means
    // nothing can be carried.
    val benchOutPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH.json")
    val carrySrcPath: String =
      sys.env.getOrElse("SPARK_GRAFT_BASE_JSON", benchOutPath)
    val carryTree: Option[com.fasterxml.jackson.databind.JsonNode] =
      try {
        val f = new java.io.File(carrySrcPath)
        if (f.exists) Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(f))
        else None
      } catch { case e: Throwable =>
        System.err.println(s"[bench] carry source unreadable: ${e.getMessage}"); None
      }
    /** Re-emit `keys` verbatim from the carry source as a JSON fragment. */
    def carriedFragment(keys: Seq[String]): String =
      carryTree.map { t =>
        keys.flatMap(k => Option(t.get(k)).map(v => s""","$k":${v.toString}"""))
          .mkString
      }.getOrElse("")

    val spark = Sessions.local(cpus)
    // dev-only subset filter (comma-separated names); the driver sets no
    // SPARK_GRAFT_ONLY, so its run always covers the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Suite reuse: when this run does not measure the suite — or measures
    // only an ONLY-filtered slice of it — per-query sf0.1 times for the
    // unmeasured queries come from the carry source (provenance stamped
    // below).
    val baseJson: Option[Map[String, Option[Double]]] =
      carryTree.flatMap { t =>
        Option(t.get("queries")).map { node =>
          val it = node.fields()
          val m = scala.collection.mutable.Map[String, Option[Double]]()
          while (it.hasNext) {
            val e = it.next()
            m(e.getKey) =
              if (e.getValue.isNull) None else Some(e.getValue.asDouble)
          }
          m.toMap
        }
      }
    if (!sections.contains("suite") && baseJson.isEmpty)
      System.err.println(
        "[bench] WARNING: suite deselected but no carry source has 'queries' — suite will re-measure")
    val measureSuite = sections.contains("suite") || baseJson.isEmpty

    // Per-query measurement provenance (suite_provenance): the blended
    // record used to carry sf0.1 entries from prior runs with only a
    // record-level stamp, so a single-query move (q234 in r11) could not
    // be adjudicated from the artifact — "when was this number taken" now
    // has a per-query answer. Measured entries get THIS run's tag; carried
    // entries keep the base record's stamp (or name the carry source).
    val runTag: String =
      java.time.format.DateTimeFormatter.ISO_INSTANT.format(
        java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.SECONDS)) +
        " sections=" + sections.toSeq.sorted.mkString("+")
    val baseProv: Map[String, String] =
      carryTree.flatMap { t =>
        Option(t.get("suite_provenance")).map { node =>
          val it = node.fields()
          val m = scala.collection.mutable.Map[String, String]()
          while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asText() }
          m.toMap
        }
      }.getOrElse(Map.empty)

    val orderedAll = SparkEntry.queries.toSeq.sortBy(_._1)
    val ordered = orderedAll
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Steady-state methodology: one untimed warmup pass of the full suite
    // (JIT + codegen compilation + page cache), then the timed pass. The
    // first cold execution of a query otherwise absorbs JVM cold-start that
    // has nothing to do with the query's plan — alphabetically-first queries
    // were charged ~2s of C2 compiler time. Engine throughput (what the
    // 100 TB posture cares about) is the steady-state number. The warmup
    // runs whenever ANY in-JVM timing section runs (suite/sf1/sf10):
    // section-refresh measurements are only comparable to full-run ones if
    // the JVM reaches the same JIT state first. Measured without it: q33's
    // three sf1 samples all read ~17 s (C2 queue saturated by the first
    // heavy queries' kernels) where the same query isolated in a warm JVM
    // runs 3.3 s.
    if (sections.exists(Set("suite", "sf1", "sf10"))) {
      ordered.foreach { case (name, fn) =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
        }
      }
      sectionDone("warmup")
    }
    // Timed pass: min of 3 back-to-back executions per query, with a GC
    // between queries so one query's garbage (broadcast blocks, shuffle
    // buffers) is not billed to the next — a single-shot suite measurement
    // was charging queries up to 3x their isolated steady-state time, and
    // min-of-2 still let one bad sample through (q36 r2 "regression" was
    // pure variance).
    // A failing query must surface IN the artifact as null + an errors row,
    // never as its time-to-throw (round 6 recorded 24 broken queries as
    // plausible ~0.05-0.17s "successes" — a regression invisible to the
    // artifact reader).
    // The durable suite always reconstructs FULL registry coverage — the
    // ONLY filter scopes what this run MEASURES, never what it preserves
    // (filtering the record once downgraded the committed 236-entry suite
    // to the one filtered query; an ONLY-scoped suite refresh did the same
    // a round later from the measuring path). Per name: measure when this
    // run's suite measurement covers it, else carry from the base record.
    val measuredHere: String => Boolean = name =>
      measureSuite && only.forall(_.contains(name))
    val results: Seq[(String, Either[String, Double])] =
      orderedAll.map { case (name, fn) =>
        if (measuredHere(name)) {
          System.gc()
          val samples = (1 to 3).map { _ =>
            val t0q = System.nanoTime()
            try {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              Right((System.nanoTime() - t0q) / 1e9)
            } catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              Left(String.valueOf(e.getMessage).take(300))
            }
          }
          val times = samples.collect { case Right(t) => t }
          if (times.isEmpty) name -> Left(samples.head.left.getOrElse("failed"))
          else {
            // variance note (stderr — stdout carries only the driver's JSON
            // line): spread = (max-min)/min over the 3 samples; anything large
            // means the min is load-dependent, not plan-dependent
            System.err.println(
              f"[bench] $name%-28s min=${times.min}%.3f spread=${(times.max - times.min) / times.min}%.2f")
            name -> Right(times.min)
          }
        } else baseJson.map(_.get(name)) match {
          // keep 'errored in the base run' distinct from 'not in the base
          // run at all' — conflating them made a base-run failure look like
          // a registry mismatch in the durable artifact
          case Some(Some(Some(v))) => name -> Right(v)
          case Some(Some(None)) => name -> Left("errored in base run")
          case _ => name -> Left("absent from base json")
        }
      }
    if (measureSuite) sectionDone("suite")
    val provenance: Seq[(String, String)] = results.map { case (name, _) =>
      name -> (if (measuredHere(name)) runTag
               else baseProv.getOrElse(name, s"carried from $carrySrcPath"))
    }
    val qs = results.map {
      case (k, Right(v)) => "\"" + k + "\":" + v
      case (k, Left(_)) => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(m)) =>
      "\"" + k + "\":\"" + m.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\""
    }
    val errJson = if (errs.isEmpty) "" else s""","errors":${errs.mkString("{", ",", "}")}"""
    val okTimes = results.toMap
    val total = results.collect { case (_, Right(v)) => v }.sum

    // Provenance: a section-refresh run copies its sf0.1 per-query times
    // from a prior artifact — stamp WHERE they came from and which sections
    // this run actually measured, so a blended record can never be read as
    // one end-to-end measurement (it used to be recorded only in commit
    // messages).
    val provJson =
      if (measureSuite && only.isEmpty) ""
      else s""","sf01_source":${jstr(carrySrcPath)}"""

    // protocol note: one fresh end-to-end suite run reads uniformly ~10%
    // slower than warmed per-section refreshes (r9->r10 showed exactly
    // that on the 232 shared queries with no single-query regression) —
    // stated in the record so cross-round comparisons don't re-litigate it
    val suiteNote =
      ""","suite_note":"suite = min-of-3 per query inside ONE warmed JVM after a full-suite warmup pass; a fresh end-to-end run reads uniformly ~10 percent slower than warmed section refreshes (protocol, not regression). suite_provenance stamps the measuring run (ISO time + sections) per query; carried entries keep their original stamp""""
    val provMapJson = provenance.map { case (k, v) =>
      "\"" + k + "\":" + jstr(v)
    }.mkString(""","suite_provenance":{""", ",", "}")
    val head =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$errJson$provMapJson,"sf":"$sfDir"$provJson$suiteNote"""

    // Assemble-and-persist: the durable file ALWAYS contains every section
    // — measured ones from this run, the rest carried verbatim — so a kill
    // at any point leaves the most complete record available.
    val carriedSections = scala.collection.mutable.LinkedHashSet[String]()
    val sf1Keys = Seq("sf1", "sf1_over_sf01_ratio", "sf1_dir", "sf1_diag", "sf1_note")
    val sf10Keys = Seq("sf10", "sf10_over_sf01_ratio", "sf10_dir", "sf10_note")
    val pipeKeys = Seq("pipeline")
    var sf1Json = carriedFragment(sf1Keys)
    var sf10Json = carriedFragment(sf10Keys)
    var pipeJson = carriedFragment(pipeKeys)
    if (sf1Json.nonEmpty) carriedSections += "sf1"
    if (sf10Json.nonEmpty) carriedSections += "sf10"
    if (pipeJson.nonEmpty) carriedSections += "pipeline"
    def persist(): Unit = {
      val stamp =
        if (carriedSections.isEmpty) ""
        else s""","carried_sections":[${carriedSections.map("\"" + _ + "\"").mkString(",")}],"carried_from":${jstr(carrySrcPath)}"""
      writeOut(head + sf1Json + sf10Json + pipeJson + stamp + "}")
    }
    persist()

    // Section hygiene: queries that .cache() pin their sf0.1 blocks in the
    // block manager for the rest of the JVM — by the time the sf1 section
    // runs, executor memory is part-occupied by dead sf0.1 cache (the
    // caches key on the plan, so the sf1-dir reads can never reuse them)
    // and the measurements absorb eviction/GC pressure that has nothing to
    // do with the plans. Measured effect before this fix: q152 sf1
    // min-of-3 read 21.6 s inside the full-suite JVM vs 3.9 s in a fresh
    // one (q33 9.1 vs 2.8, q184 4.3 vs 1.1) — a 3-5x phantom
    // superlinearity. Dropping dead cache between sections restores the
    // fresh-JVM numbers without giving up the warm-JIT steady state.
    def dropDeadCache(): Unit = {
      spark.catalog.clearCache()
      System.gc()
    }

    // Scale-proof section: if the 10x replica built by graft.ScaleGen is on
    // disk, run the heavy operator family against it (min-of-3, per-query
    // dead-cache drops) and report per-query times plus the t(10x)/t(1x)
    // ratio. ~10 = linear scaling; the ratio IS the empirical scaling
    // exponent the plan pins only argue for.
    // Coverage rule: every query whose sf0.1 steady-state time exceeds
    // ~0.5 s is in the list (plus a few named sub-0.5 s ops whose scaling
    // is of independent interest). The one exclusion: q131_mutual_knn is
    // O(n^2) BY DEFINITION (exact all-pairs); its sub-quadratic scale
    // path is q171 (IVF candidates, same mutuality join), which is here.
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/root/repo/bench-data/sf1")
    val heavy = Seq(
      "q01_pricing_pivot", "q02_region_revenue", "q03_effective_status",
      "q04_union_daily", "q05_trailing7",
      "q06_anomaly_baseline", "q07_gaps_islands", "q11_median_price",
      "q18_minhash_pairs", "q19_simhash", "q20_active_propagation",
      "q22_lag_delta", "q24_pipe_series",
      "q29_narrative_rollup", "q30_control_classify",
      "q32_multimodal_decode", "q33_embedding_neardup",
      "q38_storyline_scores", "q40_jaccard_verify",
      "q41_quality_score", "q42_repetition_stats", "q43_simhash_pairs",
      "q45_sector_baseline_rows", "q46_crisis_patterns", "q47_dedup_groups",
      "q48_quantized_knn", "q52_asof_join", "q53_range_join",
      "q54_sessionize", "q55_scd2_intervals", "q56_bm25_topk",
      "q57_profile", "q59_contamination", "q60_incremental_dedup",
      "q61_pii_scrub", "q62_quality_gate", "q63_domain_mix",
      "q65_incremental_exact", "q66_bpe_tokens",
      "q67_semantic_dedup", "q68_dup_spans", "q69_keywords",
      "q72_token_ids", "q73_length_batches", "q74_dup_spans_inc",
      "q75_interval_overlap", "q76_curation_gate", "q77_quality_deciles",
      "q78_cdc_chunks", "q79_chunk_dedup", "q81_gram_matrix",
      "q84_asof_forward", "q85_dup_span_ranges", "q86_minhash_stats",
      "q87_cut_spans", "q89_gopher_rules", "q90_funnel",
      "q91_retention", "q92_heavy_hitters", "q93_vocab_coverage",
      "q94_transitions", "q95_rfm", "q96_funnel_inc", "q97_bloom_prune",
      "q98_table_diff",
      "q100_iqr_outliers", "q101_frequent_pairs", "q103_pearson",
      "q105_blocked_resolve", "q106_mad_outliers", "q107_sorted_neighborhood",
      "q108_zone_map",
      "q109_expectations", "q110_weighted_quantiles", "q111_interval_union",
      "q112_sessionize_inc", "q113_set_similarity", "q114_ewma_chart",
      "q115_triangles", "q116_sa_dup_ranges", "q117_collocations",
      "q119_hybrid_rrf", "q120_pagerank", "q121_skipgram",
      "q122_trunc_recall", "q123_lm_familiarity", "q124_dsir_weights",
      "q125_sliding_distinct", "q127_containment", "q128_lsh_recall",
      "q129_sliding_distinct_inc", "q130_pq_recall", "q132_ivf_pq_recall",
      "q133_knn_clusters", "q134_lexical_profile", "q135_attribution",
      "q136_dup_matrix", "q137_temperature_mix", "q138_semantic_decon",
      "q139_label_prop", "q140_tv_drift", "q141_ngram_novelty",
      "q142_dedup_roi", "q145_simpson", "q146_rbo",
      "q149_source_jaccard", "q151_winnow_density", "q152_winnow_pairs",
      "q153_gate_kappa", "q154_length_auc", "q155_ks_drift",
      "q156_spearman", "q158_max_concurrency", "q159_salted_join",
      "q160_hilbert_locality", "q161_gate_calibration", "q162_lsh_precision",
      "q163_quality_keeper", "q166_item_cosine", "q168_ks_two_sample",
      "q169_minhash_calibration",
      "q170_lateness_audit", "q171_mutual_knn_ivf", "q172_kcenter_coreset",
      "q173_isotonic_calibration", "q174_golden_record",
      "q175_knn_label_purity", "q176_set_cover", "q177_seq_trigrams",
      "q178_cuped",
      "q180_seasonal_anomaly", "q181_common_neighbors", "q182_aswas_asis",
      "q183_profile_store",
      "q184_coreset_drift", "q186_hashed_linear", "q187_target_encoding",
      "q188_rle_audit", "q189_bloom_fpr", "q190_checksum_reconcile",
      "q191_view_maintenance", "q193_cube_rollup",
      "q195_rare_transitions", "q196_growth_accounting", "q197_stickiness",
      "q198_srm_check", "q199_funnel_ab", "q200_makespan_balance",
      "q201_index_advisor", "q203_cluster_silhouette", "q204_watermark_planner",
      "q205_did_readout",
      "q206_seasonal_strength", "q207_forecast_bands", "q208_max_dup_substring",
      "q209_pca_power", "q210_pca_scores", "q211_bootstrap_ci",
      "q212_skyline", "q213_token_phi", "q214_hits",
      "q215_mmr_select", "q216_ppr", "q217_assortativity",
      "q218_kmeans_lloyd", "q219_single_linkage", "q220_bfs_layers",
      "q221_matching_att", "q222_hdbscan_profile", "q223_heaps_curve",
      "q224_clustering_coeff", "q225_stratified_ate", "q226_km_risk_table",
      "q227_conformal_coverage", "q228_cusum_change", "q229_phash_neardup",
      "q230_modularity", "q231_split_leakage", "q232_jl_recall",
      "q233_dhash_neardup", "q234_group_leakage", "q235_hyperplane_stats",
      "q236_image_dedup_groups", "q237_audio_fingerprint",
      "q238_video_framesig", "q239_media_dedup_manifest",
      "q240_component_split", "q241_image_caption_cells",
      "q242_resize_audit", "q243_component_keeper", "q244_clip_reuse",
      "q245_resize_robust_dedup", "q246_hyperplane_auto",
      "q247_audio_clip_reuse", "q248_scene_cuts",
      "q249_audio_clip_autosig", "q250_bradley_terry",
      "q251_annotator_audit", "q252_pref_calibration",
      "q253_ivf_index_store")
    // sf1 per-query budget estimate: 3 samples x base x (worst observed
    // 10x ratio ~10, so x10) + overhead. Unknown-base queries get a flat
    // conservative guess.
    def sf1Est(name: String): Double =
      okTimes.get(name).flatMap(_.toOption).map(b => 3 * b * 10 + 5).getOrElse(60.0)
    if (sections.contains("sf1")
        && new java.io.File(s"$sf1Dir/lineitem.parquet").exists) {
      dropDeadCache()
      // min-of-3 (was min-of-2, was single-shot): one bad sample at the
      // 10x scale inflates the ratio ~5x and reads as a phantom
      // superlinearity — r5's q18 "13.4x" was exactly that, and r7's
      // q113 cold-cache min-of-2 read 4.97x where the warm steady state
      // is ~3.2x. Same methodology as the sf0.1 suite now.
      var sf1Stopped: Option[String] = None
      val heavySel = heavy.filter(h => only.forall(_.contains(h)))
      val r1 = heavySel.flatMap { name =>
        if (sf1Stopped.isDefined) None
        else if (remainingSec < sf1Est(name) + 120) {
          // leave >=2 min so the sf10/pipeline carry-persist still happens
          sf1Stopped = Some(name)
          System.err.println(
            f"[bench] sf1 section stopped at $name: est ${sf1Est(name)}%.0fs > remaining ${remainingSec}%.0fs-120s (budget $budgetSec%.0fs)")
          None
        } else {
          // per-QUERY hygiene, not just per-section: a query's .cache()
          // pins sf1 blocks that are dead weight for every LATER query in
          // the section (plan-keyed, never reusable across queries), and
          // the accumulated pressure inflated late entries 2-5x vs their
          // fresh-JVM steady state (r9 measured: q33 16.3s in-section vs
          // 3.3s isolated, q166 13.4 vs 4.4, q38 3.4 vs 0.9). Each query
          // now measures with only its own cache — the graft.Once posture.
          dropDeadCache()
          val times = (1 to 3).flatMap { _ =>
            System.gc()
            val t0q = System.nanoTime()
            try {
              SparkEntry.queries(name)(spark, sf1Dir)
                .write.format("noop").mode("overwrite").save()
              Some((System.nanoTime() - t0q) / 1e9)
            } catch { case e: Throwable =>
              System.err.println(s"[bench] sf1 $name failed: ${e.getMessage}"); None
            }
          }
          if (times.isEmpty) None
          else {
            val t = times.min
            val ratio = okTimes.get(name).flatMap(_.toOption)
              .map(base => math.round(t / base * 100.0) / 100.0)
            System.err.println(f"[bench] sf1 $name%-24s t=$t%.3f ratio=${ratio.getOrElse(-1.0)}%.2f")
            Some((name, t, ratio))
          }
        }
      }
      // Scaling diagnostics — durable, IN the artifact (sf1_diag), not
      // just the run log: a superlinear time ratio must be attributable
      // (occupancy growth vs per-row constants) from the committed record
      // alone.
      val diag = scala.collection.mutable.LinkedHashMap[String, String]()
      def tagKey(tag: String): String = tag.replace("0.1", "01").replace(".", "")
      // q18: the pair harvest's cost driver is bucket occupancy at the
      // distinct-signature grain
      if (r1.exists(_._1 == "q18_minhash_pairs")) {
        for ((tag, d) <- Seq("sf0.1" -> sfDir, "sf1" -> sf1Dir)) {
          val st = graft.operators.Dedup.minhashBucketStats(
            Tables.documents(spark, d), "doc_id", "text",
            shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
            .collect().head
          System.err.println(
            s"[bench] q18 occupancy $tag: n_buckets=${st.getLong(0)} " +
              s"sig_band_rows=${st.getLong(1)} max_occ=${st.getLong(2)} " +
              s"multi_buckets=${st.getLong(3)} pair_work=${st.getLong(4)}")
          diag(s"q18_pair_work_${tagKey(tag)}") = st.getLong(4).toString
          diag(s"q18_max_occ_${tagKey(tag)}") = st.getLong(2).toString
        }
      }
      // q33 (the q235 probe, run per scale): the hyperplane harvest's cost
      // driver is band-key occupancy over a fixed 2^6 key space —
      // ScaleGen's replica multiplies near-isotropic vectors over the SAME
      // key space, so per-bucket occupancy (and pair_work = sum
      // occ*(occ-1)/2) grows ~quadratically with rows where a real corpus
      // spreads over richer structure. q33's superlinear replica ratio is
      // attributed here, the q18 pair_work precedent.
      if (r1.exists(_._1 == "q33_embedding_neardup")) {
        for ((tag, d) <- Seq("sf0.1" -> sfDir, "sf1" -> sf1Dir)) {
          val st = graft.operators.Dedup.hyperplaneBucketStats(
            Tables.embeddings(spark, d), "vec_id", "embedding",
            dim = 64, numBands = 4, bandBits = 6)
            .collect().head
          System.err.println(
            s"[bench] q33/q235 occupancy $tag: n_buckets=${st.getLong(0)} " +
              s"vec_band_rows=${st.getLong(1)} max_occ=${st.getLong(2)} " +
              s"multi_buckets=${st.getLong(3)} pair_work=${st.getLong(4)}")
          diag(s"q235_pair_work_${tagKey(tag)}") = st.getLong(4).toString
          diag(s"q235_max_occ_${tagKey(tag)}") = st.getLong(2).toString
        }
      }
      // q246 (auto-sized hyperplane): the fix for the q235 artifact — the
      // band width derives from the corpus count (autoBandBits), so the
      // key space re-sizes per scale and pair_work should grow ~linearly
      // with rows (vs q235's ~quadratic growth over the fixed 2^6 keys);
      // the per-scale diag entries ARE the order's flatness evidence.
      if (r1.exists(_._1 == "q246_hyperplane_auto")) {
        for ((tag, d) <- Seq("sf0.1" -> sfDir, "sf1" -> sf1Dir)) {
          val embT = Tables.embeddings(spark, d)
          val bits = graft.operators.Dedup.autoBandBits(embT.count())
          val st = graft.operators.Dedup.hyperplaneBucketStats(
            embT, "vec_id", "embedding",
            dim = 64, numBands = 4, bandBits = bits, planeStride = 24)
            .collect().head
          System.err.println(
            s"[bench] q246 occupancy $tag: bits=$bits n_buckets=${st.getLong(0)} " +
              s"vec_band_rows=${st.getLong(1)} max_occ=${st.getLong(2)} " +
              s"multi_buckets=${st.getLong(3)} pair_work=${st.getLong(4)}")
          diag(s"q246_band_bits_${tagKey(tag)}") = bits.toString
          diag(s"q246_pair_work_${tagKey(tag)}") = st.getLong(4).toString
          diag(s"q246_max_occ_${tagKey(tag)}") = st.getLong(2).toString
        }
      }
      // q250 (Bradley-Terry): the fit's sub-linear ratio is BY
      // CONSTRUCTION — the judgment table aggregates once to wins/pair
      // tables bounded by the item pool, and the MM rounds iterate over
      // those only. The diag pins the boundedness from the artifact:
      // judgments grow 10x while the ordered-pair row count and item
      // count stay FLAT (only the per-pair counts, max_n, grow ~10x).
      if (r1.exists(_._1 == "q250_bradley_terry")) {
        for ((tag, d) <- Seq("sf0.1" -> sfDir, "sf1" -> sf1Dir)) {
          import org.apache.spark.sql.functions.{col => c, count => cnt, countDistinct, lit => l, max => mx, sum => sm, when => wh}
          val j = graft.SparkEntry.prefJudgments(spark, d)
            .select(c("winner"),
              wh(c("winner") === c("first"), c("second"))
                .otherwise(c("first")).as("loser"))
          val st = j.groupBy("winner", "loser").agg(cnt(l(1)).as("n"))
            .agg(sm(c("n")).as("judgments"), cnt(l(1)).as("pair_rows"),
              mx(c("n")).as("max_n"), countDistinct(c("winner")).as("items"))
            .collect().head
          System.err.println(
            s"[bench] q250 grain $tag: judgments=${st.getLong(0)} " +
              s"pair_rows=${st.getLong(1)} max_n=${st.getLong(2)} " +
              s"items=${st.getLong(3)}")
          diag(s"q250_judgments_${tagKey(tag)}") = st.getLong(0).toString
          diag(s"q250_pair_rows_${tagKey(tag)}") = st.getLong(1).toString
          diag(s"q250_max_n_${tagKey(tag)}") = st.getLong(2).toString
        }
      }
      // q233 (dual perceptual hash): the pixel law is block-scaled
      // (Multimodal.mediaBlock — each 1M-id block, i.e. each ScaleGen
      // copy, carries its own pixel-law class), so the replica grows the
      // fingerprint space ~linearly like a real corpus. The diag pins it:
      // rep_pair_work and exact_dup_pairs should now grow ~linearly with
      // rows (they were FLAT / quadratic under the pre-r11 fixed-key-space
      // replica, which made every media sf1 ratio an artifact).
      if (r1.exists(_._1 == "q233_dhash_neardup")) {
        for ((tag, d) <- Seq("sf0.1" -> sfDir, "sf1" -> sf1Dir)) {
          val media = graft.multimodal.Multimodal.synthesizeMedia(
            Tables.documents(spark, d), "doc_id", "text")
            .filter(org.apache.spark.sql.functions.col("media_type") === "image")
          val st = graft.operators.Dedup.dualHashBucketStats(
            graft.multimodal.Multimodal.perceptualHashBands(media),
            "abands", "dbands")
            .collect().head
          System.err.println(
            s"[bench] q233 cost $tag: n_images=${st.getLong(0)} " +
              s"n_fingerprints=${st.getLong(1)} exact_dup_pairs=${st.getLong(2)} " +
              s"rep_pair_work=${st.getLong(7)} max_occ=${st.getLong(5)}")
          diag(s"q233_exact_dup_pairs_${tagKey(tag)}") = st.getLong(2).toString
          diag(s"q233_rep_pair_work_${tagKey(tag)}") = st.getLong(7).toString
        }
      }
      // q237/q239 (audio fingerprint): the PCM law carries 53 tracks PER
      // 1M-id block (Multimodal.audioTrack), so the replica's track space
      // grows linearly with copies — per-track exact-dup group size stays
      // ~flat and the diag's n_fingerprints / rep_pair_work should grow
      // ~linearly with rows (pre-r11 the space was a fixed 53 and every
      // audio sf1 ratio measured quadratic exact-copy emission instead).
      if (r1.exists(_._1 == "q237_audio_fingerprint")) {
        for ((tag, d) <- Seq("sf0.1" -> sfDir, "sf1" -> sf1Dir)) {
          val st = graft.operators.Dedup.aHashBucketStats(
            graft.multimodal.Multimodal.audioEnergyBands(
              graft.multimodal.Multimodal.synthesizeAudio(
                Tables.documents(spark, d), "doc_id")),
            "bands")
            .collect().head
          System.err.println(
            s"[bench] q237 cost $tag: n_rows=${st.getLong(0)} " +
              s"n_fingerprints=${st.getLong(1)} exact_dup_pairs=${st.getLong(2)} " +
              s"rep_pair_work=${st.getLong(7)} max_occ=${st.getLong(5)}")
          diag(s"q237_exact_dup_pairs_${tagKey(tag)}") = st.getLong(2).toString
          diag(s"q237_rep_pair_work_${tagKey(tag)}") = st.getLong(7).toString
        }
      }
      // q244 (clip reuse): the frame pixel law rides the same block
      // scaling, so the replica's frame-fingerprint space (diag
      // n_fingerprints) grows ~linearly with copies and the aligned-match
      // mass (match_mass) tracks corpus growth instead of squaring over a
      // FLAT 749-fingerprint space as it did pre-r11.
      if (r1.exists(_._1 == "q244_clip_reuse")) {
        for ((tag, d) <- Seq("sf0.1" -> sfDir, "sf1" -> sf1Dir)) {
          val st = graft.operators.Dedup.aHashBucketStats(
            graft.multimodal.Multimodal.videoFrameHashes(
              graft.multimodal.Multimodal.synthesizeVideo(
                Tables.documents(spark, d), "doc_id"), stride = 1),
            "bands")
            .collect().head
          System.err.println(
            s"[bench] q244 cost $tag: n_frames=${st.getLong(0)} " +
              s"n_fingerprints=${st.getLong(1)} match_mass=${st.getLong(2)} " +
              s"max_occ=${st.getLong(5)}")
          diag(s"q244_match_mass_${tagKey(tag)}") = st.getLong(2).toString
          diag(s"q244_n_fingerprints_${tagKey(tag)}") = st.getLong(1).toString
        }
      }
      // q247 (audio clip reuse): per-track clip density is scale-constant
      // (n/53-per-block tracks), so the aligned-match output mass should
      // grow ~linearly with rows — the diag pins match mass and the
      // signature space per scale (the video-family q244 diag's shape).
      if (r1.exists(_._1 == "q247_audio_clip_reuse")) {
        for ((tag, d) <- Seq("sf0.1" -> sfDir, "sf1" -> sf1Dir)) {
          val st = graft.operators.Dedup.aHashBucketStats(
            graft.multimodal.Multimodal.audioFrameSigs(
              graft.multimodal.Multimodal.synthesizeAudioClips(
                Tables.documents(spark, d), "doc_id")),
            "bands")
            .collect().head
          System.err.println(
            s"[bench] q247 cost $tag: n_sig_rows=${st.getLong(0)} " +
              s"n_fingerprints=${st.getLong(1)} match_mass=${st.getLong(2)} " +
              s"max_occ=${st.getLong(5)}")
          diag(s"q247_match_mass_${tagKey(tag)}") = st.getLong(2).toString
          diag(s"q247_n_fingerprints_${tagKey(tag)}") = st.getLong(1).toString
        }
      }
      // q249 (auto-sized audio signature): the q246 cure applied to the
      // audio family — the signature window derives from the corpus
      // count, so sig-bucket match mass should grow ~linearly with rows
      // (vs q247's FIXED 16-bit space, whose match mass grows ~25x per
      // 10x as chance collisions flood the saturating key space); the
      // per-scale bits/match-mass entries ARE the flatness evidence.
      if (r1.exists(_._1 == "q249_audio_clip_autosig")) {
        for ((tag, d) <- Seq("sf0.1" -> sfDir, "sf1" -> sf1Dir)) {
          val docsT = Tables.documents(spark, d)
          val nClips = docsT.filter(
            org.apache.spark.sql.functions.col("doc_id") % 3 === 1).count()
          val w = graft.operators.Dedup.autoBandBits(
            nClips * graft.multimodal.Multimodal.audioFrames, 16, 32, 2)
          val st = graft.operators.Dedup.aHashBucketStats(
            graft.multimodal.Multimodal.audioFrameSigs(
              graft.multimodal.Multimodal.synthesizeAudioClips(
                docsT, "doc_id"), w),
            "bands")
            .collect().head
          System.err.println(
            s"[bench] q249 cost $tag: sig_bits=$w n_sig_rows=${st.getLong(0)} " +
              s"n_fingerprints=${st.getLong(1)} match_mass=${st.getLong(2)} " +
              s"max_occ=${st.getLong(5)}")
          diag(s"q249_sig_bits_${tagKey(tag)}") = w.toString
          diag(s"q249_match_mass_${tagKey(tag)}") = st.getLong(2).toString
          diag(s"q249_n_fingerprints_${tagKey(tag)}") = st.getLong(1).toString
        }
      }
      // q113: prefix-join candidate work scales with the token-frequency
      // mass sum(df^2), and ScaleGen's replica keeps the shingle
      // VOCABULARY nearly fixed while multiplying rows — so density (and
      // candidate pairs) grows ~quadratically where a real corpus grows
      // its vocabulary ~linearly.
      if (r1.exists(_._1 == "q113_set_similarity")) {
        import graft.functions.{SimilarityFunctions => SF}
        for ((tag, d) <- Seq("sf0.1" -> sfDir, "sf1" -> sf1Dir)) {
          val st = Tables.documents(spark, d)
            .select(org.apache.spark.sql.functions.explode(
              org.apache.spark.sql.functions.array_distinct(
                SF.tokenShingles(org.apache.spark.sql.functions.col("text"), 3)))
              .as("t"))
            .groupBy("t").count()
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n_shingles"),
              org.apache.spark.sql.functions.sum(
                org.apache.spark.sql.functions.col("count") *
                  org.apache.spark.sql.functions.col("count")).as("df_sq"))
            .collect().head
          System.err.println(
            s"[bench] q113 density $tag: n_shingles=${st.getLong(0)} " +
              s"sum_df_sq=${st.getLong(1)}")
          diag(s"q113_sum_df_sq_${tagKey(tag)}") = st.getLong(1).toString
        }
      }
      if (r1.nonEmpty) {
        // Durability on a budget-stopped section: a PARTIAL fresh section
        // must never replace a fuller committed one (the r9 regression
        // mechanism). Entries this run did not reach are carried verbatim
        // from the prior record's sf1 maps and listed in the note —
        // measured entries always win over carried ones.
        val measuredNames = r1.map(_._1).toSet
        def carriedMap(key: String): Map[String, String] = {
          val m = scala.collection.mutable.LinkedHashMap[String, String]()
          for (t <- carryTree; node <- Option(t.get(key))) {
            val it = node.fields()
            while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.toString }
          }
          m.toMap
        }
        // partial = budget-stopped OR ONLY-filtered: either way the fresh
        // entries are a subset, and the unmeasured rest must survive
        val partial = sf1Stopped.isDefined || only.isDefined
        val carriedT = if (!partial) Map.empty[String, String]
          else carriedMap("sf1").filterKeys(!measuredNames(_)).toMap
        val carriedR = if (!partial) Map.empty[String, String]
          else carriedMap("sf1_over_sf01_ratio").filterKeys(!measuredNames(_)).toMap
        // per-KEY diag carry (not all-or-nothing): an ONLY-filtered refresh
        // produces only its own queries' diag blocks — the rest must
        // survive from the carry source, or a 2-query refresh silently
        // drops the q18/q113/q235 diagnostics the notes reference
        val carriedD = carriedMap("sf1_diag")
          .filterKeys(k => !diag.contains(k)).toMap
        val diagAll = diag.map { case (k, v) => (k, v) }.toMap ++ carriedD
        val diagJson =
          if (diagAll.isEmpty) ""
          else s""","sf1_diag":${diagAll.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}"""
        val ts = (r1.map { case (k, t, _) => "\"" + k + "\":" + t } ++
          carriedT.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v })
          .mkString("{", ",", "}")
        val rs = (r1.flatMap { case (k, _, r) => r.map("\"" + k + "\":" + _) } ++
          carriedR.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v })
          .mkString("{", ",", "}")
        val stoppedNote = sf1Stopped
          .map(n => s" SECTION STOPPED EARLY at $n (wall budget); the ${carriedT.size} unreached entries are carried verbatim from the prior record ($carrySrcPath), measured entries are fresh.")
          .getOrElse(
            if (carriedT.nonEmpty)
              s" Partial refresh: ${measuredNames.size} entries fresh, ${carriedT.size} carried verbatim from the prior record ($carrySrcPath)."
            else "")
        sf1Json = s""","sf1":$ts,"sf1_over_sf01_ratio":$rs,"sf1_dir":"$sf1Dir"$diagJson,"sf1_note":"10x key-shifted decorrelated replica of sf0.1 (graft.ScaleGen; the part dimension is scaled too - each copy gets shifted partkeys matching its orderkey shift, so co-purchase graph degrees stay realistic instead of densifying against a fixed part catalog). The MEDIA key spaces scale with the same copy offset: Multimodal's fixture laws carve their key space per 1M-id BLOCK (mediaBlock = id div 1e6 = the ScaleGen copy index) - 53 audio tracks and one pixel-law class per block - so this replica grows the audio track space 53 -> 530 (distinct PCM streams measured) and the image/video fingerprint spaces ~10x (208 -> 2137 image aHash classes, 606 -> 6217 video frame classes) the way a real corpus grows its master list, and the q229/q233/q236-q244 ratios measure REAL scaling; the sf1_diag rep-grain probes (q233/q237 rep_pair_work + exact_dup_pairs, q244 n_fingerprints + match_mass) pin that the rep grain now grows ~linearly instead of staying FLAT over a fixed key space as pre-r11. Min-of-3 timings with per-QUERY dead-cache drops (plan-keyed caches are never reusable across queries or dirs; accumulated pinned blocks inflated late section entries 2-5x vs their fresh-JVM steady state); ratio ~10 = linear scaling. Since r12 the TEXT vocabulary is block-carved too (ScaleGen.carveToken: one vocabulary slice per copy - a length/case/punctuation-preserving token bijection, within-copy shingle equality intact), so token-frequency-driven harvests measure real scaling instead of fixed-vocab densification: q113's prefix-join candidate mass sum_df_sq grows ~linearly (sf1_diag; it grew 90x per 10x on the fixed-vocab replica, which excluded q113 at 100x - now probed at sf10). Honest corollary: fixed-keyword classifiers and stopword-ratio gates match ~only copy 0's text - their per-row scan work is unchanged, match-dependent downstream work reads ~copy-0-sized. The remaining fixed-key-space behaviors are DELIBERATE contrast fixtures: q33's FIXED-nbits hyperplane occupancy (q235 pair_work in sf1_diag, both scales) goes ~quadratic over its 2^6 key space - q246 is the auto-sized scale path (nbits derived from the corpus count): its occupancy diag stays ~linear and its TIME ratio exceeding 10 is the derived width itself (4 bands x 10 bits at sf1 vs x 6 at sf0.1 bounds the per-row hashing term at 16.7x; measured ratios land between linear 10 and that bound - 16.7x in r11, 11.1x in r12; the quadratic collision blowup is gone and the log-n hashing term is the price); likewise q247's FIXED 16-bit audio frame signature saturates (sig-bucket match mass ~25x per 10x in its diag) and q249 is its auto-sized path (sig_bits/match_mass per scale in sf1_diag, match mass ~flat per row). Ratios near 10 on row-linear audits (q188 RLE runs) are the EXPECTED linear point, not a defect - the operator must touch every row. Exact mutual-kNN (q131) is O(n^2) by definition and benches here via its sub-quadratic IVF scale path q171 (nlist=ceil(sqrt(n)); same mutuality join).$stoppedNote""""
        carriedSections -= "sf1"
      }
      sectionDone("sf1")
      persist()
    } else if (sections.contains("sf1")) {
      System.err.println(s"[bench] sf1 replica not found at $sf1Dir — section carried/skipped")
    }

    // 100x probe: one point at sf10 turns the 10x sub-linearity argument
    // into a trend for the historically worst-ratio operators. Ratio is vs
    // the sf0.1 steady state, so ~100 = linear on FIXED cores.
    // q113 IS probed since r12: the vocab-carved replica (ScaleGen
    // .carveToken) grows the shingle vocabulary with copies, so PPJoin's
    // candidate mass is ~linear (sf1_diag sum_df_sq) — on the pre-r12
    // fixed-vocab replica it grew ~quadratically and the 100x harvest
    // spilled past the machine's disk, which is why it was excluded.
    // Still excluded, as DELIBERATE fixed-key-space contrast fixtures:
    // q33/q235's fixed-2^6 hyperplane harvest and q247's fixed 16-bit
    // audio signature (their occupancy/match-mass grows ~quadratically BY
    // DESIGN — the exhibits next to their auto-sized paths q246/q249,
    // which re-size per corpus and are probed instead).
    // Every suite entry over ~5 s at sf0.1 gets a 100x point. In-JVM
    // samples after the first are JIT/cache-warm and read as a FLOOR, not
    // a representative cold time (q67's in-JVM min-of-3 published 27.8x
    // where fresh JVMs deliver ~150x) — the committed record's heavies are
    // therefore measured min-of-3 ACROSS FRESH JVMs by tools/sf10_probe.sh
    // and carried here; probes this in-suite run measures itself are
    // single-shot warm-JVM and labeled so in the note.
    dropDeadCache()
    val sf10Dir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/root/repo/bench-data/sf10")
    val probe = Seq(
      "q18_minhash_pairs" -> 1, "q67_semantic_dedup" -> 3,
      "q116_sa_dup_ranges" -> 1, "q125_sliding_distinct" -> 1,
      "q139_label_prop" -> 1, "q208_max_dup_substring" -> 1,
      "q214_hits" -> 1, "q219_single_linkage" -> 1,
      "q222_hdbscan_profile" -> 1,
      // media dedup probes — meaningful at 100x since r11's block-scaled
      // key spaces (pre-r11 these were excluded as replica artifacts)
      "q239_media_dedup_manifest" -> 1, "q240_component_split" -> 1,
      "q243_component_keeper" -> 1,
      // meaningful at 100x since r12: the vocab-carved replica (q113) and
      // the corpus-sized audio signature (q249)
      "q113_set_similarity" -> 1, "q249_audio_clip_autosig" -> 1)
    def sf10Est(name: String, reps: Int): Double =
      okTimes.get(name).flatMap(_.toOption).map(b => b * 150 * reps + 10)
        .getOrElse(600.0)
    if (sections.contains("sf10")
        && new java.io.File(s"$sf10Dir/lineitem.parquet").exists) {
      // carried per-probe values (fresh-JVM numbers from the committed
      // record) survive for any probe this run skips
      val carriedProbeT = scala.collection.mutable.LinkedHashMap[String, String]()
      val carriedProbeR = scala.collection.mutable.LinkedHashMap[String, String]()
      for (t <- carryTree; node <- Option(t.get("sf10"))) {
        val it = node.fields()
        while (it.hasNext) { val e = it.next(); carriedProbeT(e.getKey) = e.getValue.toString }
      }
      for (t <- carryTree; node <- Option(t.get("sf10_over_sf01_ratio"))) {
        val it = node.fields()
        while (it.hasNext) { val e = it.next(); carriedProbeR(e.getKey) = e.getValue.toString }
      }
      val carriedUsed = scala.collection.mutable.LinkedHashSet[String]()
      val measured = scala.collection.mutable.LinkedHashMap[String, (Double, Option[Double])]()
      probe.filter { case (h, _) => only.forall(_.contains(h)) }
        .foreach { case (name, reps) =>
          if (remainingSec < sf10Est(name, reps) + 120) {
            System.err.println(
              f"[bench] skip sf10 $name: est ~${sf10Est(name, reps)}%.0fs > remaining ${remainingSec}%.0fs-120s (budget $budgetSec%.0fs)" +
                (if (carriedProbeT.contains(name)) " — carrying committed value" else " — NO carried value exists"))
            if (carriedProbeT.contains(name)) carriedUsed += name
          } else {
            dropDeadCache() // same per-query hygiene as the sf1 section
            val times = (1 to reps).flatMap { _ =>
              System.gc()
              val t0q = System.nanoTime()
              try {
                SparkEntry.queries(name)(spark, sf10Dir)
                  .write.format("noop").mode("overwrite").save()
                Some((System.nanoTime() - t0q) / 1e9)
              } catch { case e: Throwable =>
                System.err.println(s"[bench] sf10 $name failed: ${e.getMessage}")
                None
              }
            }
            if (times.nonEmpty) {
              val t = times.min
              val ratio = okTimes.get(name).flatMap(_.toOption)
                .map(b => math.round(t / b * 100.0) / 100.0)
              System.err.println(
                f"[bench] sf10 $name%-24s t=$t%.3f ratio100x=${ratio.getOrElse(-1.0)}%.2f samples=${times.map(x => f"$x%.1f").mkString("/")}")
              measured(name) = (t, ratio)
            } else if (carriedProbeT.contains(name)) carriedUsed += name
          }
        }
      // Carry EVERY unmeasured entry from the carry source, not just the
      // names in this build's probe list: sf10 entries are also added
      // out-of-band by tools/sf10_probe.sh + merge_bench.py (q216/q236 in
      // r11), and restricting the carry to the in-suite probe list made
      // the r11 driver run silently DROP those two committed fresh-JVM
      // measurements from the durable record.
      for (k <- carriedProbeT.keys if !measured.contains(k))
        carriedUsed += k
      if (measured.nonEmpty || carriedUsed.nonEmpty) {
        val tEntries =
          measured.map { case (k, (t, _)) => "\"" + k + "\":" + t } ++
            carriedUsed.flatMap(k => carriedProbeT.get(k).map("\"" + k + "\":" + _))
        val rEntries =
          measured.flatMap { case (k, (_, r)) => r.map("\"" + k + "\":" + _) } ++
            carriedUsed.flatMap(k => carriedProbeR.get(k).map("\"" + k + "\":" + _))
        val carriedNote =
          if (carriedUsed.isEmpty) ""
          else s" Entries ${carriedUsed.mkString("/")} are carried from the committed record (min-of-3 across FRESH JVMs via tools/sf10_probe.sh - cold runs, not warm floors); the rest were measured in THIS warm suite JVM."
        sf10Json = s""","sf10":${tEntries.mkString("{", ",", "}")},"sf10_over_sf01_ratio":${rEntries.mkString("{", ",", "}")},"sf10_dir":"$sf10Dir","sf10_note":"100x key-shifted decorrelated replica (graft.ScaleGen, 100 copies; part dim scaled with per-copy shifted partkeys; rotations composed with sign flips past the embedding dim; MEDIA key spaces scale with the copy offset - 53 audio tracks and one pixel-law class per 1M-id block; TEXT vocabulary block-carved per copy since r12 - ScaleGen.carveToken - so the media AND token-frequency probes measure real scaling); timings vs the sf0.1 steady state - ratio ~100 = linear scaling on FIXED cores. q67 SemDeDup's in-cluster pair stage is Theta(n^1.5) at nlist=sqrt(n), so its expected fixed-core 100x ratio is up to ~1000, NOT sub-linear; the cluster story is that bucket count (= parallelism) also grows as sqrt(n). Excluded BY DESIGN: q33/q235 (fixed 2^6 hyperplane space) and q247 (fixed 16-bit audio signature) are the deliberate fixed-key-space contrast fixtures - their auto-sized paths q246/q249 are the probed scale posture. A cold ratio slightly over 100 on a small warm base is the fresh-JVM cold start itself, not super-linearity: q236's ~108 is linear work (warm sf1 ratio 3.0) plus the ~30-60 s JVM+page-cache start its 4.3 s sf0.1 base cannot amortize (cold samples span 466-688 s across r12 probes; min taken).$carriedNote""""
        carriedSections -= "sf10"
      }
      sectionDone("sf10")
      persist()
    } else if (sections.contains("sf10")) {
      System.err.println(s"[bench] sf10 replica not found at $sf10Dir — section carried/skipped")
    }

    // Composed-job throughput: the end-to-end curation pipeline (scrub ->
    // exact/minhash/span incremental dedup -> gate -> curated append, two
    // batches + epoch sharding) over the documents table — the operator
    // library exercised as ONE job, not isolated queries.
    if (sections.contains("pipeline") && remainingSec >= 120) {
      try {
        dropDeadCache()
        import org.apache.spark.sql.functions.col
        val tmp = java.nio.file.Files.createTempDirectory("graft-bench-pipe").toString
        val docs = Tables.documents(spark, sfDir)
        val cfgP = graft.pipeline.CurationPipeline.Config(baseDir = tmp)
        val t0p = System.nanoTime()
        val rs = Seq(
          graft.pipeline.CurationPipeline.runBatch(
            spark, docs.filter(col("doc_id") % 2 === 0), "b1", cfgP),
          graft.pipeline.CurationPipeline.runBatch(
            spark, docs.filter(col("doc_id") % 2 === 1), "b2", cfgP))
        graft.pipeline.CurationPipeline.shardEpoch(spark, cfgP, epoch = 1).collect()
        val t = (System.nanoTime() - t0p) / 1e9
        for (r <- rs)
          System.err.println(s"[bench] pipeline ${r.batchId}: " +
            r.stages.map(s => s"${s.stage} ${s.rowsIn}->${s.rowsOut}").mkString(", "))
        val curated = rs.flatMap(_.stages.lastOption.map(_.rowsOut)).sum
        System.err.println(f"[bench] pipeline end-to-end t=$t%.3f curated=$curated")
        // media face: the same incremental contract over the image corpus
        // (decode once -> perceptual fingerprint -> band-store probe ->
        // manifest drop), timed separately so the text number stays
        // comparable across rounds
        val media = graft.multimodal.Multimodal.synthesizeMedia(
          docs, "doc_id", "text").filter(col("media_type") === "image")
        val t0m = System.nanoTime()
        val ms = Seq(
          graft.pipeline.CurationPipeline.runMediaBatch(
            spark, media.filter(col("media_id") % 2 === 0), "b1", cfgP),
          graft.pipeline.CurationPipeline.runMediaBatch(
            spark, media.filter(col("media_id") % 2 === 1), "b2", cfgP))
        val tm = (System.nanoTime() - t0m) / 1e9
        for (r <- ms)
          System.err.println(s"[bench] media pipeline ${r.batchId}: " +
            r.stages.map(s => s"${s.stage} ${s.rowsIn}->${s.rowsOut}").mkString(", "))
        val mediaIn = ms.flatMap(_.stages.headOption.map(_.rowsIn)).sum
        val mediaKept = ms.flatMap(_.stages.lastOption.map(_.rowsOut)).sum
        System.err.println(f"[bench] media pipeline end-to-end t=$tm%.3f curated=$mediaKept")
        // media face at the replica scales too: the sf0.1 corpus is 1,667
        // images, so its 2-batch time is mostly fixed job overhead — the
        // slope only shows once the decoded-asset count dominates. One
        // helper, two scales (10x and 100x), each budget-guarded.
        def mediaPointAt(dir: String, tag: String, minBudget: Double): String =
          if (new java.io.File(s"$dir/documents.parquet").exists
              && remainingSec >= minBudget) {
            val mediaN = graft.multimodal.Multimodal.synthesizeMedia(
              Tables.documents(spark, dir), "doc_id", "text")
              .filter(col("media_type") === "image")
            val tmpN = java.nio.file.Files.createTempDirectory(s"graft-bench-pipe-$tag").toString
            val cfgN = graft.pipeline.CurationPipeline.Config(baseDir = tmpN)
            val t0mN = System.nanoTime()
            val msN = Seq(
              graft.pipeline.CurationPipeline.runMediaBatch(
                spark, mediaN.filter(col("media_id") % 2 === 0), "b1", cfgN),
              graft.pipeline.CurationPipeline.runMediaBatch(
                spark, mediaN.filter(col("media_id") % 2 === 1), "b2", cfgN))
            val tmN = (System.nanoTime() - t0mN) / 1e9
            val inN = msN.flatMap(_.stages.headOption.map(_.rowsIn)).sum
            val keptN = msN.flatMap(_.stages.lastOption.map(_.rowsOut)).sum
            val ratioN = math.round(tmN / tm * 100.0) / 100.0
            System.err.println(
              f"[bench] media pipeline $tag t=$tmN%.3f in=$inN curated=$keptN ratio=$ratioN%.2f")
            s""","media_sec_$tag":$tmN,"media_in_$tag":$inN,"media_curated_$tag":$keptN,"media_${tag}_over_sf01_ratio":$ratioN"""
          } else {
            System.err.println(
              s"[bench] media pipeline $tag point skipped (no replica or <${minBudget.toInt}s budget left)")
            ""
          }
        val mediaSf1 = mediaPointAt(sf1Dir, "sf1", 240)
        val mediaSf10 = mediaPointAt(sf10Dir, "sf10", 600)
        // preference face: the judgment corpus (one judgment per event)
        // through counts-grain ingest -> annotator screen -> BT fit, two
        // batches under the same manifest contract
        val judg = graft.SparkEntry.prefJudgments(spark, sfDir)
          .withColumnRenamed("user_id", "annotator")
        val tmpP = java.nio.file.Files.createTempDirectory("graft-bench-pipe-pref").toString
        val cfgPr = graft.pipeline.CurationPipeline.Config(baseDir = tmpP)
        val t0pr = System.nanoTime()
        val ps = Seq(
          graft.pipeline.CurationPipeline.runPreferenceBatch(
            spark, judg.filter(col("event_id") % 2 === 0), "b1", cfgPr),
          graft.pipeline.CurationPipeline.runPreferenceBatch(
            spark, judg.filter(col("event_id") % 2 === 1), "b2", cfgPr))
        val tpr = (System.nanoTime() - t0pr) / 1e9
        for (r <- ps)
          System.err.println(s"[bench] pref pipeline ${r.batchId}: " +
            r.stages.map(s => s"${s.stage} ${s.rowsIn}->${s.rowsOut}").mkString(", "))
        val prefIn = ps.flatMap(_.stages.headOption.map(_.rowsIn)).sum
        val prefItems = ps.lastOption.flatMap(_.stages.lastOption.map(_.rowsOut)).getOrElse(0L)
        System.err.println(f"[bench] pref pipeline end-to-end t=$tpr%.3f items=$prefItems")
        pipeJson = s""","pipeline":{"sec":$t,"docs_in":${rs.flatMap(_.stages.headOption.map(_.rowsIn)).sum},"curated":$curated,"media_sec":$tm,"media_in":$mediaIn,"media_curated":$mediaKept$mediaSf1$mediaSf10,"pref_sec":$tpr,"pref_in":$prefIn,"pref_items":$prefItems,"note":"sec = 2 incremental text batches + epoch sharding over documents; media_sec = 2 incremental media batches (decode -> perceptual fingerprint -> band-store probe -> manifest drop) over the image corpus; media_sec_sf1/_sf10 = the same 2-batch media job on the 10x/100x replica's image corpus (ratio ~10/~100 = linear in decoded assets; the sf0.1 denominator is mostly fixed job overhead at 1,667 images, so the honest slope is the sf1->sf10 marginal: (media_sec_sf10-media_sec_sf1)/(media_in_sf10-media_in_sf1)); pref_sec = 2 incremental preference batches (judgment firehose -> counts grain on arrival -> annotator screen vs pair majority -> Bradley-Terry fit) over one judgment per event"}"""
        carriedSections -= "pipeline"
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pipeline failed: ${e.getMessage}")
      }
      sectionDone("pipeline")
    } else if (sections.contains("pipeline")) {
      System.err.println(
        f"[bench] skip pipeline: remaining ${remainingSec}%.0fs < 120s — carrying prior value if present")
    }
    persist()
    val stamp =
      if (carriedSections.isEmpty) ""
      else s""","carried_sections":[${carriedSections.map("\"" + _ + "\"").mkString(",")}],"carried_from":${jstr(carrySrcPath)}"""
    println(head + sf1Json + sf10Json + pipeJson + stamp + "}")
    // Compact trailer line LAST: the driver wrapper keeps only the final
    // ~2000 chars of stdout and json-parses the last line — the full
    // record line above is tens of KB and front-truncates to garbage
    // (BENCH_r08..r10 all captured parsed:null). This line is standalone
    // valid JSON well under the tail window; the committed BENCH.json
    // remains the complete artifact. `"trailer":true` distinguishes it
    // from the full record line (both carry metric:"total" — a consumer
    // matching on the metric name alone could pick the tens-of-KB line),
    // and the same line goes to stderr as well: sbt's logger used to
    // prefix stdout with "[info] " (now disabled via run/outputStrategy
    // := StdoutOutput in build.sbt), which defeated the wrapper's parse
    // two rounds running — the raw stderr copy survives either capture.
    val nOk = results.count(_._2.isRight)
    val nErr = results.size - nOk
    val trailer =
      s"""{"metric":"total","trailer":true,"value":$total,"unit":"sec","sf":"$sfDir","queries_ok":$nOk,"queries_err":$nErr,"full_record":"$benchOutPath"}"""
    System.err.println(trailer)
    println(trailer)
    spark.stop()
  }
}
