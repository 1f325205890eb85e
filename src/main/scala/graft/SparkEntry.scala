package graft

import graft.operators.{AsofJoin, Calibration, Coreset, Dedup, Effective, GoldenRecord, Rollups, Similarity, StatePropagation, Windows}
import graft.functions.{PortableHash, SimilarityFunctions => SF, TextFunctions => TF}
import graft.sources.PipeSeries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — queries exercising every implemented operator from
  * SURVEY.md §2 over the driver's synthetic tables (TESTDATA.md), each with a
  * DuckDB oracle where SQL-expressible.
  *
  * Float determinism policy (oracle hash-parity AND reproducibility at
  * scale): double sums are taken through DecimalType (order-independent,
  * exact) and cast back to double at the end; ratios are plain IEEE double
  * divisions of exact values (identical in both engines); round() is avoided
  * entirely (Spark's round(double) goes through the shortest-repr BigDecimal
  * and can differ from DuckDB's by 1 ulp at boundaries).
  */
object SparkEntry {
  import Tables._

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    regionRevenue(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  /** A1/A2/A3: conditional-count pivot ("sentiment histogram" shape, cf.
    * reference sql/article_daily_counts_mv.sql:11-17) on lineitem flags. */
  private def pricingPivot(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Rollups.exactMoneySum(col("l_quantity"), 0).as("sum_qty"),
        Rollups.exactMoneySum(col("l_extendedprice")).as("sum_base_price"),
        Rollups.exactDiscountedSum(col("l_extendedprice"), col("l_discount"))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        Rollups.countIf(col("l_discount") > 0.05).as("high_discount_count"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** J1: fact→dim join chain with broadcast dims (cf. reference MV joins,
    * sql/serp_daily_counts_mv.sql:16-17). Dims are roster-scale → broadcast;
    * the only shuffle is the final group-by on 5 region keys. */
  private def regionRevenue(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      // two-level aggregate instead of countDistinct: level 1 groups by
      // (region, order) with map-side combine — partial scaled-long revenue
      // sums — level 2 folds to regions where count(*) IS the distinct
      // order count. Same bit-exact result, no distinct expand.
      .groupBy(col("r_name"), col("o_orderkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("__part"))
      .groupBy(col("r_name"))
      .agg((sum(col("__part")).cast("double") / 10000.0).as("revenue"),
        count(lit(1)).as("order_cnt"))
      .orderBy("r_name")

  /** P1+J2+J3: latest-wins dedup + broadcast left join + coalesce chain (the
    * reference's single most load-bearing semantic — effective labels). */
  private def effectiveStatus(s: SparkSession, dir: String): DataFrame = {
    val latest = Effective.latestWins(
      orders(s, dir).select(col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate"), col("o_orderkey")),
      Seq("o_custkey"),
      Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select(col("o_custkey"), col("o_orderstatus").as("latest_status"))
    Effective.withEffective(
      customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
        .withColumn("o_custkey", col("c_custkey")),
      latest,
      Seq("o_custkey"),
      Map("eff_status" -> Seq(col("latest_status"), col("c_mktsegment"))))
      .select(col("c_custkey"), col("c_mktsegment"), col("latest_status"), col("eff_status"))
      .orderBy("c_custkey")
  }

  /** J4/O5: tagged-union daily metrics — one shuffle instead of the
    * reference's union-of-keys + 5 left joins (sql/entity_daily_metrics_v.sql). */
  private def unionDaily(s: SparkSession, dir: String): DataFrame =
    Rollups.taggedUnionCounts(
      Seq(
        "orders" -> orders(s, dir).select(to_date(col("o_orderdate")).as("d")),
        "ship" -> lineitem(s, dir).select(to_date(col("l_shipdate")).as("d"))),
      Seq("d"))
      .orderBy("d")

  private def eventsDaily(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), eventDay(col("ts")).as("d"))
      .agg(
        sum(col("value").cast("decimal(18,2)")).as("v"),
        count(lit(1)).as("n"))

  /** W1: trailing-7-observations window over per-user daily series (ROWS
    * frame — "last 7 observations", sql/entity_weekly_rollup_v.sql:2-29). */
  private def trailing7(s: SparkSession, dir: String): DataFrame = {
    val w = Windows.trailing(Seq("user_id"), "d", 7)
    eventsDaily(s, dir)
      .select(col("user_id"), col("d"),
        sum(col("n")).over(w).as("n7"),
        sum(col("v")).over(w).cast("double").as("v7"),
        min(col("d")).over(w).as("win_start"))
      .orderBy("user_id", "d")
  }

  /** W2+O6: 30-prior-rows baseline + anomaly gate (≥7 prior observation days,
    * count ≥ 2× baseline — sql/entity_anomalies_v.sql:4-23,58-61). */
  private def anomalyBaseline(s: SparkSession, dir: String): DataFrame = {
    val w = Windows.priorFrame(Seq("user_id"), "d", 30, 1)
    eventsDaily(s, dir)
      .select(col("user_id"), col("d"), col("n"),
        count(lit(1)).over(w).as("prior_days"),
        sum(col("n")).over(w).as("prior_total"))
      .filter(col("prior_days") >= 7)
      .withColumn("baseline", col("prior_total").cast("double") / col("prior_days"))
      .filter(col("n") >= lit(2.0) * col("baseline"))
      .select("user_id", "d", "n", "prior_days", "baseline")
      .orderBy("user_id", "d")
  }

  /** W7: gaps-and-islands consecutive-day episodes (reference computes this
    * in a Python loop, dashboard_app/app.py:1602-1635). */
  private def gapsIslands(s: SparkSession, dir: String): DataFrame =
    Windows.episodes(
      events(s, dir).select(col("user_id"), eventDay(col("ts")).as("d")),
      Seq("user_id"), "d")
      .select(col("user_id"), col("episode_start"), col("episode_end"), col("episode_days"))
      .orderBy("user_id", "episode_start")

  /** W6/A10: distinct-on latest-row dedup per (user, event_type). */
  private def latestDedup(s: SparkSession, dir: String): DataFrame =
    Effective.latestWins(events(s, dir), Seq("user_id", "event_type"),
      Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("event_type"), col("event_id"),
        eventDay(col("ts")).as("d"), col("value"))
      .orderBy("user_id", "event_type")

  /** A4: top-3 alphabetically-first matching strings per group
    * (sql/negative_summary_mv.sql:43-46 shape). */
  private def top3Names(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .groupBy(col("p_brand"))
      .agg(
        Rollups.topKStringsAgg(col("p_name"), col("p_size") > 25, 3).as("top_names"),
        Rollups.countIf(col("p_size") > 25).as("n_large"))
      .filter(col("n_large") > 0)
      .orderBy("p_brand")

  /** A6: screen/rank aggregate with HAVING + top-k (app.py:4400-4426). */
  private def screenTopSpenders(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        Rollups.exactMoneySum(col("o_totalprice")).as("total_spend"),
        // max needs no decimal detour: the doubles are exact 2-dec values
        max(col("o_totalprice")).as("peak_order"),
        Rollups.countIf(col("o_totalprice") > 150000).as("big_orders"),
        count(lit(1)).as("n_orders"))
      .filter(col("total_spend") >= 100000)
      .orderBy(col("total_spend").desc, col("o_custkey"))
      .limit(20)

  /** A12: exact median per group (Python statistics.median parity —
    * app.py:2168; exact, never approx). Served by the two-pass
    * count+offset selection kernel (Profiling.exactMedianByKey): at corpus
    * scale a hot group's values no longer buffer in one percentile
    * aggregation buffer — bit-identical to exact percentile (pinned in
    * ProfilingSpec). */
  private def medianPrice(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .join(
        graft.operators.Profiling.exactMedianByKey(
          orders(s, dir), "o_orderpriority", "o_totalprice")
          .withColumnRenamed("median", "median_price"),
        Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("median_price"), col("n"))
      .orderBy("o_orderpriority")

  /** P9/O2: pagination via row_number window (offset 100, page 50). */
  private def pagination(s: SparkSession, dir: String): DataFrame =
    Windows.paginate(
      orders(s, dir).select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"),
        col("o_totalprice")),
      Seq(col("o_orderdate"), col("o_orderkey")), 100, 50)
      .withColumn("rn", col("rn").cast("long"))
      .orderBy("rn")

  /** Text analysis: token counts + chars-per-token quality component. */
  private def tokenStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), col("lang"),
        TF.charCount(col("text")).as("n_chars2"),
        TF.tokenCount(col("text")).as("n_tokens"))
      .withColumn("chars_per_token", col("n_chars2").cast("double") / col("n_tokens"))
      .orderBy("doc_id")

  /** Exact dedup: content-fingerprint groups (md5 of normalized text). */
  private def docFingerprint(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(documents(s, dir), "doc_id", "text")
      .select(col("fp"), col("n_docs"), col("keep_id"))
      .orderBy("fp")

  /** Incremental EXACT dedup: the batch (doc_id % 10 == 0) collapsed to
    * fingerprint groups and anti-joined against the corpus fingerprint
    * store — only first-ever-seen content survives; the store is never
    * recomputed. Exact-dedup twin of q60. */
  private def incrementalExactQ(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    graft.operators.Dedup.incrementalExactNew(
      docs.filter(col("doc_id") % 10 === 0),
      graft.operators.Dedup.exactGroups(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text").select("fp"),
      "doc_id", "text")
      .orderBy("fp")
  }

  /** Token capacity planning: BPE-pretokenizer counts (the tokens a merge
    * stage will see) next to whitespace counts — punctuation- and
    * digit-heavy text undercounts badly under whitespace splitting. */
  private def bpeTokensQ(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(col("doc_id"),
      TF.tokenCount(col("text")).as("ws_tokens"),
      TF.bpeTokenCount(col("text")).as("bpe_tokens"))
      .withColumn("ratio",
        col("bpe_tokens").cast("double") / col("ws_tokens"))
      .orderBy("doc_id")

  /** Language-ID heuristic: standalone-stopword hit counts per language,
    * arg-max label (first-listed wins ties). */
  private val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "und", "die"))

  private def langId(s: SparkSession, dir: String): DataFrame = {
    val scored = langStopwords.foldLeft(documents(s, dir)) { case (df, (l, ws)) =>
      df.withColumn(s"${l}_hits", TF.stopwordHits(col("text"), ws))
    }
    scored
      .withColumn("predicted_lang",
        TF.argMaxLang(langStopwords.map { case (l, _) => l -> col(s"${l}_hits") }))
      .select(col("doc_id"), col("lang"), col("en_hits"), col("es_hits"),
        col("de_hits"), col("predicted_lang"))
      .orderBy("doc_id")
  }

  /** ANN baseline: brute-force cosine top-5 for the first 10 vectors.
    * Oracled against DuckDB `list_cosine_similarity` ranking: the score
    * itself is excluded from the output (DuckDB computes FLOAT[] cosine in
    * float, ours accumulates in double — ~1e-7 apart) but the RANKINGS agree
    * bit-for-bit because the minimum adjacent-neighbor gap in this data is
    * ~2e-5, 200x the float error (measured at sf0.01 and sf0.1). */
  private def cosineKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVF-bucketed ANN (scale path). Fully deterministic given the centroid
    * rule (first nlist vectors by id), so the oracle replays the same
    * assignment/probe/rank pipeline in SQL; margins (min best-vs-second
    * centroid gap ~1e-5) dwarf the float-vs-double cosine difference. */
  private def cosineIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val cents = Similarity.headCentroids(emb, "vec_id", "embedding", 16)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      5, centroids = cents, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** int8-quantized ANN: quantize the corpus (portable floor(x*s+0.5)
    * formula), brute-force cosine top-k over the quantized vectors. All dot
    * products are exact small-integer sums until the final division, so the
    * oracle's ranks match bit-for-bit. */
  private def quantizedKnn(s: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantizeInt8(embeddings(s, dir), "vec_id", "embedding")
    Similarity.bruteForceTopKQuantized(q, q.filter(col("vec_id") < 10), "vec_id", 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  private[graft] val stratifiedRates =
    Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.1)

  /** Deterministic stratified sampling: per-language keep rates resolved to
    * integer ppm thresholds over md5Hash60(doc_id) — reproducible,
    * partition-independent, engine-replayable (pure pushdown filter). */
  private def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      documents(s, dir).select(col("doc_id"), col("lang")),
      "doc_id", "lang", stratifiedRates)
      .orderBy("doc_id")

  /** Deterministic token-weighted sample: 50 docs, inclusion odds rising
    * with token count (integer-exact priority, no pow/ln). */
  private def weightedSampleQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedSample(
      documents(s, dir)
        .select(col("doc_id"), TF.tokenCount(col("text")).as("w")),
      "doc_id", "w", 50)
      .orderBy("priority", "doc_id")

  /** Training-data chunking: 64-token windows, 16-token overlap — pure
    * explode, no shuffle (chunks inherit scan partitioning). */
  private def chunkDocs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.chunkByTokens(documents(s, dir), "doc_id", "text",
      chunkSize = 64, overlap = 16)
      .orderBy("doc_id", "chunk_idx")

  /** Sequence packing: per-language streaming bin assignment under a
    * 2048-token budget (cumulative-sum window; the pack key bounds the
    * window so no global sort exists). */
  private def packDocs(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"), col("lang"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    graft.operators.Chunking.packSequences(d, Seq("lang"), "doc_id", "n_tokens", 2048L)
      .orderBy("lang", "doc_id")
  }

  /** MinHash+LSH near-dup candidates — portable md5Hash60/affine31 hash
    * family so the WHOLE signature → band → bucket → pair pipeline replays
    * bit-for-bit in the DuckDB oracle. */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatePairs(documents(s, dir), "doc_id", "text",
      shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
      .orderBy("id_a", "id_b")

  /** Incremental dedup: the corpus signature store (doc_id % 10 != 0,
    * [[graft.operators.Dedup.minhashBandTable]]) probed by a new batch
    * (doc_id % 10 == 0) — only new-sided pairs, harvested from only the
    * buckets the batch touches; the store is never re-hashed. Same portable
    * hash family/params as q18, so the oracle replays the full pipeline and
    * filters to batch-sided pairs. */
  private def incrementalDedupQ(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    def band(df: DataFrame) = Dedup.minhashBandTable(df, "doc_id", "text",
      shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
    Dedup.minhashIncrementalPairs(
      band(docs.filter(col("doc_id") % 10 === 0)),
      band(docs.filter(col("doc_id") % 10 =!= 0)),
      numHashes = 32, maxBucket = 1000)
      .orderBy("id_a", "id_b")
  }

  /** Benchmark decontamination: corpus docs sharing >= 50% of a test item's
    * distinct word trigrams (test set = every 101st doc). The corpus n-gram
    * stream is pruned against the broadcast test vocabulary BEFORE the only
    * shuffle — the BM25 vocabulary-prune posture. */
  private def contaminationQ(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val testSet = docs.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("test_id"), col("text"))
    graft.operators.Decontamination.contaminationReport(
      docs, "doc_id", "text", testSet, "test_id", "text", n = 3, minOverlapFrac = 0.5)
      .orderBy("doc_id", "test_id")
  }

  /** PII scrub report: deterministic synthetic identifiers (email, phone,
    * IPv4) injected into every 7th document, then detected and redacted by
    * the RE2-compatible TextScrub battery — counts, scrubbed length, and a
    * fingerprint of the scrubbed text, all engine-replayable. */
  private def piiScrubQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextScrub
    val synth = when(col("doc_id") % 7 === 0,
      concat(col("text"),
        lit(" contact agent"), col("doc_id").cast("string"),
        lit("@corp.example.com call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
        (col("doc_id") % 100).cast("string"))).otherwise(col("text"))
    documents(s, dir).select(col("doc_id"), synth.as("__t"))
      .select(col("doc_id"),
        TextScrub.emailCount(col("__t")).cast("long").as("n_emails"),
        TextScrub.phoneCount(col("__t")).cast("long").as("n_phones"),
        TextScrub.ipv4Count(col("__t")).cast("long").as("n_ips"),
        length(TextScrub.scrub(col("__t"))).cast("long").as("clean_len"),
        md5(TextScrub.scrub(col("__t")).cast("binary")).as("clean_fp"))
      .orderBy("doc_id")
  }

  /** Quality gating at an EXACT per-group percentile: per-language p25 of
    * document length from the two-pass selection kernel
    * (Profiling.exactQuantilesByKey — no value buffering), then keep docs
    * at or above their language's threshold. The R-7 interpolation matches
    * DuckDB quantile_cont bit-for-bit. */
  private def qualityGateQ(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("n_chars"))
    val th = graft.operators.Profiling.exactQuantilesByKey(d, "lang", "n_chars", Seq(0.25))
      .select(col("lang"), col("value").as("p25"))
    d.join(broadcast(th), "lang")
      .filter(col("n_chars") >= col("p25"))
      .groupBy("lang")
      .agg(first(col("p25")).as("p25"),
        count(lit(1)).as("n_kept"),
        min(col("n_chars")).as("min_kept"))
      .orderBy("lang")
  }

  /** Training-mix rebalancing: uniform per-source token budget (half the
    * corpus), integer ppm keep-rates, deterministic md5 sampling — the
    * domain-mixing pass of a pretraining pipeline. All rate arithmetic is
    * integer floor division, replayed verbatim by the oracle. */
  private def domainMixQ(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"), col("source"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val budget = d.agg(sum(col("n_tokens"))).collect()(0).getLong(0) / 2L
    graft.operators.Mixing.mixUniform(d, "doc_id", "source", "n_tokens", budget)
      .groupBy("source", "rate_ppm")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy("source")
  }

  /** SimHash fingerprints + prefix-block buckets (portable 60-bit family —
    * oracle recomputes the same balances/assembly in SQL). */
  private def simhashTable(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashTable(documents(s, dir), "doc_id", "text", portable = true)
      .orderBy("id")

  /** Dedup GROUPS from LSH candidate pairs: connected components
    * ([[Dedup.connectedComponents]]) over the q18 pair graph — the
    * keep/drop decision step of a corpus dedup pipeline. Oracled against a
    * recursive-CTE reachability query over the same pairs. */
  private def dedupGroups(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      // persist the LSH pair graph in the bounded cache registry
      // (Caching) — same policy as the Insights/Storylines bases.
      graft.Caching.track(
        Dedup.minhashCandidatePairs(documents(s, dir), "doc_id", "text",
          shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)))
      .orderBy("id")

  /** SimHash near-dup PAIRS via 4 rotated prefix-block tables — complete for
    * Hamming <= 3 by pigeonhole, so the oracle can be the brute-force
    * `bit_count(xor)` join (a completeness proof, not just a replay). */
  private def simhashPairsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(
      Dedup.simhashTable(documents(s, dir), "doc_id", "text", portable = true),
      bits = 60)
      .orderBy("id_a", "id_b")

  /** As-of (point-in-time) join: each purchase event matched to the SAME
    * user's latest at-or-before click — the trades→quotes shape. Single
    * key-shuffle union-sort plan (no range explosion); oracled against
    * DuckDB's native ASOF LEFT JOIN. Timestamps emitted as epoch micros
    * (exact decimal ns→us floor on the Spark side == DuckDB's ns→us read). */
  private def asofJoinQ(s: SparkSession, dir: String): DataFrame = {
    def us(c: Column): Column =
      floor(c.cast("decimal(20,0)") / lit(1000)).cast("long")
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
    AsofJoin.asofBackward(purchases, clicks, Seq("user_id"), "ts", "ts",
      Seq("click_id", "click_ts", "click_value"))
      .select(col("event_id"), col("user_id"), us(col("ts")).as("ts_us"),
        col("click_id"), us(col("click_ts")).as("click_ts_us"), col("click_value"))
      .orderBy("event_id")
  }

  /** Forward as-of (q84): time-to-next-error after each purchase — the
    * incident-attribution twin of q52's backward join, exercising the
    * operator's reverse-timeline scan. Same single-shuffle union-sort
    * plan; DuckDB ASOF with `<=` is the oracle. */
  private def asofForwardQ(s: SparkSession, dir: String): DataFrame = {
    def us(c: Column): Column =
      floor(c.cast("decimal(20,0)") / lit(1000)).cast("long")
    val ev = events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id").as("err_id"),
        col("ts").as("err_ts"))
    AsofJoin.asofForward(purchases, errors, Seq("user_id"), "ts", "ts",
      Seq("err_id", "err_ts"))
      .select(col("event_id"), col("user_id"), us(col("ts")).as("ts_us"),
        col("err_id"), us(col("err_ts")).as("err_ts_us"),
        (us(col("err_ts")) - us(col("ts"))).as("us_to_error"))
      .orderBy("event_id")
  }

  /** Binned range join: per-user error EPISODES (gaps-and-islands intervals,
    * the q07 kernel over error days) joined to the purchase events that fall
    * inside them — a composed interval-attribution pipeline. Day ordinates
    * (exact integers) keep the bin arithmetic engine-portable; the oracle is
    * the same episode CTE plus a plain inequality join. */
  private def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    def dayNum(c: Column): Column = datediff(c, lit("1970-01-01")).cast("long")
    val ev = events(s, dir)
    val errorDays = ev.filter(col("event_type") === "error")
      .select(col("user_id"), eventDay(col("ts")).as("d"))
    val episodes = Windows.episodes(errorDays, Seq("user_id"), "d")
      .select(col("user_id"), dayNum(col("episode_start")).as("ep_start"),
        dayNum(col("episode_end")).as("ep_end"), col("episode_days"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), dayNum(eventDay(col("ts"))).as("p_day"))
    graft.operators.RangeJoin.pointsInIntervals(purchases, episodes,
      Seq("user_id"), "p_day", "ep_start", "ep_end", binWidth = 4L)
      .select(col("user_id"), col("event_id"), col("p_day"),
        col("ep_start"), col("ep_end"), col("episode_days"))
      .orderBy("user_id", "event_id", "ep_start")
  }

  /** Sessionization over the event stream: Spark's native `session_window`
    * (6-hour inactivity gap — the median per-user inter-event gap here is
    * ~7h, so real splits occur) with per-session stats and a 1-based
    * session index. Same-session iff gap < 6h (session_window merges
    * overlapping [ts, ts+gap) windows), which the oracle replays as a
    * lag + cumulative-sum islands build with a `>= gap` split in micros.
    * Batch twin of the streaming state machinery in graft.streaming. */
  private def sessionizeQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), eventTs(col("ts")).as("t"), col("event_type"))
    val sess = ev
      .groupBy(col("user_id"), session_window(col("t"), "6 hours").as("w"))
      .agg(min(col("t")).as("s"), max(col("t")).as("e"),
        count(lit(1)).as("n_events"),
        Rollups.countIf(col("event_type") === "purchase").as("n_purchases"))
    sess
      .select(col("user_id"),
        unix_micros(col("s")).as("session_start_us"),
        unix_micros(col("e")).as("session_end_us"),
        col("n_events"), col("n_purchases"))
      .withColumn("session_idx", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("session_start_us")))
        .cast("long"))
      .orderBy("user_id", "session_idx")
  }

  /** SCD2 interval build: each user's event_type stream as a change log —
    * consecutive duplicates collapse, every change opens a validity interval
    * closed (exclusively) by the next change; the open interval is
    * `is_current`. One shuffle + one sort shared by both window passes. */
  private def scd2Q(s: SparkSession, dir: String): DataFrame = {
    def us(c: Column): Column =
      floor(c.cast("decimal(20,0)") / lit(1000)).cast("long")
    val changes = events(s, dir)
      .select(col("user_id"), us(col("ts")).as("t"), col("event_type").as("status"))
    graft.operators.Scd2.buildIntervals(changes, Seq("user_id"), "t", Seq("status"))
      .select(col("user_id"), col("status"),
        col("valid_from").as("valid_from_us"), col("valid_to").as("valid_to_us"),
        col("is_current"))
      .orderBy("user_id", "valid_from_us")
  }

  private[graft] val bm25Queries = Seq(
    (1, Seq("hash", "join")),
    (2, Seq("window", "agg")),
    (3, Seq("slow", "scan", "filter")))

  /** BM25 keyword search: top-10 docs per query, rank-oracled (scores sum
    * through decimal(38,12) — order-independent, so ranks replay exactly;
    * the floats themselves stay out of the compare surface). */
  private def bm25Q(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.bm25TopK(documents(s, dir), "doc_id", "text",
      bm25Queries, k = 10)
      .orderBy("query_id", "rank")

  private[graft] val profileCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Multi-column numeric profile of lineitem — EXACT cardinalities and
    * medians, scale-safely: one melted map-side-combined shuffle to the
    * distinct-value grain, n/n_null/n_distinct/min/max off that grain (no
    * Expand), medians by iterative bucket refinement (two-pass
    * count+offset selection — no value-buffering percentile anywhere). */
  private def profileQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.profileNumeric(lineitem(s, dir), profileCols)
      .orderBy("col_name")

  /** Tokenizer vocabulary: term counts with a min-count floor, bounded
    * top-k, deterministic (count desc, term) ids. */
  private def vocabQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.buildVocab(documents(s, dir), "text",
      minCount = 5L, maxVocab = 100)
      .orderBy("vocab_id")

  /** Per-doc keyword extraction: top-3 terms by exact tf/df (rank-order
    * core of tf-idf; ln-free for cross-engine bit parity). */
  private def keywordsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.keywordsTopK(documents(s, dir), "doc_id", "text", 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "rank")

  /** Deterministic epoch-3 shard audit: per-shard doc/token counts and the
    * shard's first doc (pins the whole permutation — any assignment or
    * ordering drift moves some shard's head). */
  private def epochShardsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sharding.assignShards(
      documents(s, dir).select(col("doc_id"), col("text")), "doc_id",
      epoch = 3, numShards = 8)
      .withColumn("t", TF.tokenCount(col("text")))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("t")).as("n_tokens"),
        min(when(col("shard_pos") === 1, col("doc_id"))).as("first_doc"))
      .orderBy("shard")

  /** Tokenizer apply: encode every doc against the q58 vocabulary —
    * order-preserving token→id with OOV→0, ids as CSV for cross-engine
    * byte-comparability. */
  private def tokenIdsQ(s: SparkSession, dir: String): DataFrame = {
    val vocab = graft.operators.TextSearch.buildVocab(documents(s, dir), "text",
      minCount = 5L, maxVocab = 100)
    graft.operators.TextSearch.encodeWithVocab(documents(s, dir), "doc_id", "text", vocab)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Length-bucketed batching: per-batch padding-waste audit. Batch 0
    * holds the 32 longest docs, each batch pads to its own max. */
  private def lengthBatchesQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Batching.lengthBatches(
      documents(s, dir).select(col("doc_id"), TF.tokenCount(col("text")).as("len")),
      "doc_id", "len", batchSize = 32)
      .groupBy("batch")
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"))
      .withColumn("pad_waste", col("n_docs") * col("max_len") - col("sum_len"))
      .orderBy("batch")

  /** W11/K5: recursive prev-day active-state propagation via flatMapGroups —
    * the reference's crisis-event trigger machine shape
    * (crisis_event_rollups.py:541-561). The DuckDB oracle uses the
    * closed-form (running max of `start` within continue-segments of
    * consecutive-day islands) — a differential test of the sequential kernel. */
  private def activePropagation(s: SparkSession, dir: String): DataFrame = {
    val flagged = eventsDaily(s, dir)
      .withColumn("start_f", col("n") >= 5)
      .withColumn("cont_f", col("n") >= 3)
      .select("user_id", "d", "n", "start_f", "cont_f")
    StatePropagation.propagateActive(flagged, Seq("user_id"), "d", "start_f", "cont_f")
      .select(col("user_id"), col("d"), col("n"), col("active"))
      .orderBy("user_id", "d")
  }

  /** W8: trailing streak of qualifying observations ending at the latest row
    * (reference walks rows reversed while metric >= threshold,
    * app.py:1380-1387). */
  private def trailingStreak(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("d").desc)
    eventsDaily(s, dir)
      .withColumn("rn", row_number().over(w))
      .groupBy("user_id")
      .agg(coalesce(min(when(col("n") < 3, col("rn"))) - 1, count(lit(1)))
        .as("streak_days"))
      .orderBy("user_id")
  }

  /** W10: prior-calendar-day lookup (reference indexes metrics[date-1],
    * crisis_event_rollups.py:647-661). A bare lag() over sparse rows would
    * be WRONG (it fetches the previous EXISTING row, any gap away) — but
    * lag() + an exact `prev == date-1` filter is equivalent to the date-1
    * self-join while aggregating the daily table ONCE (the join shape
    * recomputes the whole scan->aggregate subplan for each side). */
  private def lagDelta(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("d")
    eventsDaily(s, dir).select("user_id", "d", "n")
      .withColumn("__pd", lag(col("d"), 1).over(w))
      .withColumn("prior_n", lag(col("n"), 1).over(w))
      .filter(col("__pd") === date_sub(col("d"), 1))
      .select(col("user_id"), col("d"), col("n"), col("prior_n"),
        (col("n") - col("prior_n")).as("delta"),
        (col("n").cast("double") / col("prior_n")).as("ratio"))
      .orderBy("user_id", "d")
  }

  /** W9: 7-day-anchored rolling windows stepping back from each user's
    * latest date (app.py:1390-1440). */
  private def anchoredWeekly(s: SparkSession, dir: String): DataFrame = {
    val daily = eventsDaily(s, dir).select("user_id", "d", "n")
    val anchors = daily.groupBy("user_id").agg(max(col("d")).as("l"))
      .withColumn("k", explode(sequence(lit(0), lit(3))))
      .select(col("user_id"), date_sub(col("l"), col("k") * 7).as("anchor"))
    anchors.join(daily.withColumnRenamed("user_id", "u2"),
        col("u2") === col("user_id") &&
          col("d").between(date_sub(col("anchor"), 6), col("anchor")),
        "left")
      .groupBy("user_id", "anchor")
      .agg(coalesce(sum(col("n")), lit(0L)).as("n7"))
      .orderBy("user_id", "anchor")
  }

  /** S5/S6: pipe-delimited parallel series — build per-user history strings,
    * then explode them back with split+arrays_zip+explode and compute the
    * snapshot daily-change fallback (src/ingest_metrics.py:97-179). */
  private def pipeSeries(s: SparkSession, dir: String): DataFrame = {
    val daily = eventsDaily(s, dir)
    val series = daily.groupBy("user_id").agg(
      array_join(transform(array_sort(collect_list(struct(col("d"), col("v")))),
        x => x.getField("v").cast("string")), "|").as("vh"),
      array_join(transform(array_sort(collect_list(struct(col("d"), col("v")))),
        x => x.getField("d").cast("string")), "|").as("dh"))
    val (dailyPct, _) = PipeSeries.snapshotChanges(col("vh"))
    val withPct = series.withColumn("daily_change_pct", dailyPct)
    PipeSeries.explodeSeries(withPct, Seq("user_id", "daily_change_pct"), "vh", "dh")
      .select(col("user_id"), col("date").cast("date").as("d"),
        col("value").cast("double").as("v"), col("daily_change_pct"))
      .orderBy("user_id", "d")
  }

  /** P4/J7: scope restriction as a semi-join (row-level security shape,
    * app.py:701-736 / sql/rls.sql). */
  private def semiJoinScope(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .join(customer(s, dir).filter(col("c_acctbal") > 5000),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        Rollups.exactMoneySum(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")

  /** A7: sector-baseline aggregate + rank/percent_rank within peer group
    * (app.py:4543-4637: mean/median of window values, rank of a peer). */
  private def sectorBaseline(s: SparkSession, dir: String): DataFrame = {
    val byNation = customer(s, dir)
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "n_regionkey")
      .agg(
        count(lit(1)).as("n_custs"),
        Rollups.exactMoneySum(col("c_acctbal")).as("total_bal"),
        percentile(col("c_acctbal"), lit(0.5)).as("median_bal"))
    val w = Window.partitionBy("n_regionkey").orderBy(col("total_bal").desc, col("n_name"))
    byNation
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .orderBy("n_regionkey", "rnk")
  }

  /** A5: index re-rollup — second-level aggregation over a pre-aggregated
    * daily gold table, dropping the entity dimension (app.py:3128-3139). */
  private def indexRollup(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), eventDay(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("d", "event_type")
      .agg(sum(col("cnt")).as("cnt"), count(lit(1)).as("active_users"))
      .orderBy("d", "event_type")

  /** O3/O4: top-k with composite tie-breaks (score desc, casefolded name asc
    * — app.py:5022-5028). */
  private def topkComposite(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy(col("p_retailprice").desc, lower(col("p_name")), col("p_partkey"))
      .limit(10)

  /** K1/K3: narrative classification + entity-day rollup over documents
    * (sentiment/finance flags synthesized deterministically from doc_id;
    * grouped by source). Kernel parity is covered by differential goldens in
    * KernelsSpec; rows-only check here. */
  private def narrativeRollup(s: SparkSession, dir: String): DataFrame = {
    val items = documents(s, dir)
      .withColumn("title", col("text"))
      .withColumn("snippet", lit(""))
      .withColumn("url", lit(""))
      .withColumn("sentiment",
        when(col("doc_id") % 3 === 0, "negative")
          .when(col("doc_id") % 3 === 1, "neutral").otherwise("positive"))
      .withColumn("finance_routine", col("doc_id") % 7 === 0)
    // tags (array) / tag_counts (map) -> JSON strings: the driver's compare
    // sorts rows by every column in pandas, which cannot hash lists
    graft.operators.NarrativeRollup.rollupEntityDay(items, Seq("source"))
      .withColumn("tags", to_json(col("tags")))
      .withColumn("tag_counts", to_json(col("tag_counts")))
      .orderBy("source")
  }

  /** K11/K12: control + finance-routine classification over synthesized URLs
    * (rows-only; kernel parity via reference goldens in KernelsSpec). */
  private def controlClassify(s: SparkSession, dir: String): DataFrame = {
    val classifyUdf = udf((company: String, url: String, websites: String) =>
      graft.functions.RiskRules.classifyControl(company, url,
        graft.functions.RiskRules.parseCompanyDomains(websites)))
    val financeUdf = udf((title: String, url: String) =>
      graft.functions.RiskRules.isFinancialRoutine(title, "", url, ""))
    documents(s, dir)
      .withColumn("url",
        when(col("doc_id") % 2 === 0,
          concat(lit("https://www."), col("source"), lit(".com/page/"), col("doc_id")))
          .otherwise(concat(lit("https://news.example.com/a/"), col("doc_id"))))
      .withColumn("controlled", classifyUdf(col("source"), col("url"),
        concat(col("source"), lit(".com"))))
      .withColumn("finance_routine", financeUdf(col("text"), col("url")))
      .groupBy("source")
      .agg(Rollups.countIf(col("controlled")).as("controlled_cnt"),
        Rollups.countIf(col("finance_routine")).as("finance_cnt"),
        count(lit(1)).as("n"))
      .orderBy("source")
  }

  /** K6: fuzzy entity resolution — misspelled queries resolved against the
    * nation dim via crossJoin + difflib-parity ratio + best/runner-up margin
    * (thresholds 0.82/margin 0.02, app.py:1204-1217). Fully DuckDB-oracled:
    * the oracle reimplements SequenceMatcher.ratio in pure SQL (recursive
    * matching-block decomposition — see the q31 oracleSql entry), so the
    * difflib scorer is now hash-checked end-to-end, not just pinned by the
    * KernelsSpec goldens. */
  private def fuzzyResolve(s: SparkSession, dir: String): DataFrame = {
    val dim = nation(s, dir).select(col("n_name"))
    val queries = dim.select(
      lower(expr("substring(n_name, 1, length(n_name) - 1)")).as("q")).distinct()
    val scored = queries.crossJoin(broadcast(dim))
      .withColumn("score",
        graft.functions.TextLookup.seqRatioUdf(col("q"), lower(col("n_name"))))
    val w = Window.partitionBy("q").orderBy(col("score").desc, col("n_name"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .groupBy("q")
      .agg(
        max(when(col("rnk") === 1, col("n_name"))).as("resolved"),
        max(when(col("rnk") === 1, col("score"))).as("score"),
        max(when(col("rnk") === 2, col("score"))).as("runner_up"))
      .withColumn("accepted",
        col("score") >= 0.82 &&
          (col("score") >= 0.99 || coalesce(col("runner_up"), lit(0.0)) < col("score") - 0.02))
      .orderBy("q")
  }

  /** K6 (portable mode): the same fuzzy-resolution shape (crossJoin +
    * best/runner-up margin accept) scored by normalized Levenshtein
    * similarity — SQL-expressible in any engine, so this variant carries a
    * full DuckDB oracle. The difflib-parity scorer (q31) stays pinned by
    * KernelsSpec byte-for-byte goldens; at corpus scale Levenshtein mode is
    * also the cheaper scorer (codegen'd builtin, no UDF). */
  private def fuzzyResolveLev(s: SparkSession, dir: String): DataFrame = {
    val dim = nation(s, dir).select(col("n_name"))
    val queries = dim.select(
      lower(expr("substring(n_name, 1, length(n_name) - 1)")).as("q")).distinct()
    val scored = queries.crossJoin(broadcast(dim))
      .withColumn("score",
        lit(1.0) - levenshtein(col("q"), lower(col("n_name"))).cast("double") /
          greatest(length(col("q")), length(col("n_name"))).cast("double"))
    val w = Window.partitionBy("q").orderBy(col("score").desc, col("n_name"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .groupBy("q")
      .agg(
        max(when(col("rnk") === 1, col("n_name"))).as("resolved"),
        max(when(col("rnk") === 1, col("score"))).as("score"),
        max(when(col("rnk") === 2, col("score"))).as("runner_up"))
      .withColumn("accepted",
        col("score") >= 0.82 &&
          (col("score") >= 0.99 || coalesce(col("runner_up"), lit(0.0)) < col("score") - 0.02))
      .orderBy("q")
  }

  /** Multimodal decode (q32): synthesize media rows from documents — image
    * rows as REAL PNG bytes of a deterministic pixel law — then run the
    * batched JDK ImageIO decode. Image rows round-trip through an actual
    * codec (decoded dims + exact gray-channel checksum); audio/video rows
    * are opaque stand-ins on the documented fallback path
    * ([[graft.multimodal.Multimodal]]). */
  private def multimodalDecode(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.synthesizeMedia(
      documents(s, dir), "doc_id", "text")
    graft.multimodal.Multimodal.decodeFeatures(media)
      .select(col("media_id"), col("media_type"), col("decode_ok"),
        size(col("feature")).as("feature_dim"),
        col("decoded_width"), col("decoded_height"), col("gray_sum"))
      .orderBy("media_id")
  }

  /** Perceptual-hash image near-dup (q229): the multimodal member of the
    * dedup family. Image payloads (REAL PNG bytes) decode through JDK
    * ImageIO into an 8×8 nearest-neighbor gray lattice, mean-threshold to
    * a 64-bit aHash carried as 4×16-bit bands
    * ([[graft.multimodal.Multimodal.aHashBands]]), then pair through the
    * one fingerprint harvest every dedup family shares — distinct-
    * fingerprint grain, band-bucket harvest, exact bit_count(xor) Hamming
    * verify, complete to Hamming 3 by pigeonhole ([[Dedup.aHashPairs]]).
    * The oracle replays the closed-form pixel law (PNG is lossless, so
    * decode ≡ law) — the Spark side is the only one that touches the
    * codec. */
  private def phashNearDupQ(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.synthesizeMedia(
      documents(s, dir), "doc_id", "text")
      .filter(col("media_type") === "image")
    val hashes = graft.multimodal.Multimodal.aHashBands(media)
    Dedup.aHashPairs(hashes, "media_id", "bands", maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  /** Embedding near-dup pairs via banded random-hyperplane LSH + cosine
    * threshold. Planes are deterministic literals, so the oracle replays the
    * identical band keys; cos is emitted as float (1-ulp double wobble
    * between engines' accumulators disappears at float precision).
    *
    * DELIBERATE fixed-width contrast fixture: this query keeps its 2^6
    * band-key space FIXED at every corpus size — so its replica ratios
    * (and the q235 occupancy probe over the same space) demonstrate what
    * goes wrong when corpus growth outruns a static LSH key space
    * (pair_work ~quadratic, 137k → 13.8M across one 10×). Its sf1 ratio
    * exceeding ~10 is therefore the EXPECTED exhibit, not a regression;
    * the production-posture twin is q246 ([[embeddingNearDupAutoQ]]),
    * whose width derives from the corpus count and whose occupancy diag
    * stays ~flat. Excluded from 100× probes for the same reason. */
  private def embeddingNearDup(s: SparkSession, dir: String): DataFrame =
    // synthetic embeddings are near-orthogonal (max pairwise cos ~0.48), so
    // the "near-dup" gate is set where the data actually has neighbors
    Dedup.embeddingNearDupPairs(embeddings(s, dir), "vec_id", "embedding",
      threshold = 0.3, dim = 64, numBands = 4, bandBits = 6)
      .select(col("id_a"), col("id_b"), col("cos").cast("float").as("cos"))
      .orderBy("id_a", "id_b")

  /** SemDeDup: cluster-scoped semantic dedup — nearest-head-centroid
    * assignment (q17's replayable rule), exact cosine pairs WITHIN a cluster
    * only (the paper's move that keeps pairwise off the corpus), components,
    * keep = min id. Threshold 0.42 sits at the TOP of this corpus's
    * similarity range (near-orthogonal synthetic embeddings, max pairwise
    * cos ~0.48): true near-dups only — a looser 0.3 gate marks 2/3 of the
    * corpus as one chainy near-dup graph, which both misrepresents the
    * operator and costs ~8 propagation rounds instead of ~2. */
  private def semanticDedupQ(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    // nlist auto-scales to ceil(sqrt(n)) (q171's sizing): with the native
    // argmax kernel assignment is ~free, and the quadratic in-cluster
    // pair stage shrinks as 1/nlist — a FIXED nlist was the worst sf1
    // ratio in the suite (4.7x at 10x data; sqrt-scaling restores ~linear)
    val nlist = math.ceil(math.sqrt(
      emb.select(col("vec_id")).count().toDouble)).toInt
    val cents = Similarity.headCentroids(emb, "vec_id", "embedding", nlist)
    Dedup.semanticDedupGroups(emb, "vec_id", "embedding", cents, threshold = 0.42)
      .orderBy("id")
  }

  /** Exact duplicated-span screen (Lee et al. substring-dedup signal):
    * per-doc fraction of 8-token rolling windows whose content appears in
    * another document. */
  private def dupSpansQ(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(documents(s, dir), "doc_id", "text", windowTokens = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Maximal duplicated span ranges (q85): the cut list behind q68's
    * screen — overlapping cross-document-duplicated 8-token windows merged
    * into maximal token ranges per document (Lee et al. span cutting). */
  private def dupSpanRangesQ(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpanRanges(documents(s, dir), "doc_id", "text", windowTokens = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "span_start")

  /** Exact substring CUT (q87): q85's maximal ranges applied — duplicated
    * spans deleted from every document, survivors rejoined (Lee et al.
    * span cutting, the step the q68 screen and q85 ranges exist for). */
  private def cutSpansQ(s: SparkSession, dir: String): DataFrame =
    Dedup.cutDuplicatedSpans(documents(s, dir), "doc_id", "text", windowTokens = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Suffix-array-exact duplicated span ranges (q116): q85's cut list
    * recomputed with ZERO hashing — w-gram identities from depth-truncated
    * Manber-Myers prefix doubling ([[graft.operators.SuffixArray]]).
    * Shares q85's brute-force oracle because Lee et al.'s position-cut
    * semantics provably coincides with the duplicated-w-window union;
    * a green row is differential evidence for BOTH implementations. */
  private def saDupRangesQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.SuffixArray.exactDupSpanRanges(
      documents(s, dir), "doc_id", "text", windowTokens = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "span_start")

  /** Bigram collocation mining (q117): top-50 adjacent pairs by lift with
    * corpus support >= 3 — log-free PMI ranking (monotone transform), so
    * the score stays IEEE-exact against the oracle
    * ([[graft.operators.TextSearch.collocationsByLift]]). */
  private def collocationsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.collocationsByLift(
      documents(s, dir), "text", minCount = 3L, k = 50)

  /** Hybrid retrieval via reciprocal-rank fusion (q119): BM25 keyword
    * top-10 fused with brute-force cosine top-10 for queries 1-3 (query j
    * probes with embedding vec_id=j; doc space is the shared id domain) —
    * rank-only fusion, so the oracle replays both retrievers' rank chains
    * and the fixed-order two-term RRF sum bit-exactly
    * ([[graft.operators.TextSearch.rrfFuse]]). */
  private def hybridRrfQ(s: SparkSession, dir: String): DataFrame = {
    val qids = bm25Queries.map(_._1)
    val bm = graft.operators.TextSearch.bm25TopK(
      documents(s, dir), "doc_id", "text", bm25Queries, k = 10)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val emb = embeddings(s, dir)
    val cos = Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id").isin(qids: _*)), "vec_id", "embedding", 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.TextSearch.rrfFuse(bm, cos, k0 = 60, k = 10)
      .orderBy("query_id", "rank")
  }

  /** Embedding-truncation recall ablation (q122): overlap between the
    * full-64-dim exact top-5 and the top-5 at prefix dims 8/16/32 for the
    * q16 probe set — the Matryoshka dimension-cheapening measurement
    * ([[Similarity.truncationRecall]]). Rank-membership oracle, like
    * q16/q17. */
  private def truncationRecallQ(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    Similarity.truncationRecall(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", dims = Seq(8, 16, 32), k = 5)
      .orderBy("query_id", "dim")
  }

  /** Bigram LM familiarity scoring (q123): the log-free CCNet-style
    * reference-LM quality filter — a bigram count model trained on the
    * even-doc_id slice (deterministic stand-in for a curated corpus),
    * every doc scored by bigram coverage and mean reference-count
    * ([[graft.operators.TextSearch.bigramFamiliarity]]). */
  private def lmFamiliarityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.bigramFamiliarity(
      documents(s, dir), "doc_id", "text",
      refFilter = col("doc_id") % 2 === 0, minRefCount = 2L)
      .orderBy("doc_id")

  /** DSIR importance resampling (q124): hashed-unigram bucket
    * distributions with `lang = 'en'` as the target slice; top-100 docs
    * by fixed-point importance ([[graft.operators.Dsir.importanceTopK]]).
    * The bucket table is O(256) regardless of corpus size. */
  private def dsirWeightsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dsir.importanceTopK(
      documents(s, dir), "doc_id", "text",
      targetFilter = col("lang") === "en", buckets = 256, k = 100)

  /** Trailing-7-day distinct active users (q125): the contribution-
    * explode exact rolling-distinct — W1's frame semantics where the
    * aggregate (COUNT DISTINCT) can't ride a window frame
    * ([[graft.operators.SlidingDistinct.trailingDistinct]]). */
  private def slidingDistinctQ(s: SparkSession, dir: String): DataFrame = {
    def dayNum(c: Column): Column = datediff(c, lit("1970-01-01")).cast("long")
    graft.operators.SlidingDistinct.trailingDistinct(
      events(s, dir).select(dayNum(eventDay(col("ts"))).as("d"), col("user_id")),
      "d", "user_id", windowDays = 7)
      .orderBy("day")
  }

  /** k-anonymity audit (q126): equivalence classes over the customer
    * quasi-identifier projection (nation, market segment, account-balance
    * century bucket), flagging classes below k=5
    * ([[graft.operators.Anonymity.kAnonymityAudit]]). The floor(x/100)
    * bucket is exact IEEE double arithmetic in both engines. */
  private def kAnonymityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Anonymity.kAnonymityAudit(
      customer(s, dir),
      quasiCols = Seq(col("c_nationkey").cast("long"), col("c_mktsegment"),
        floor(col("c_acctbal") / 100).cast("long")),
      quasiNames = Seq("nation", "segment", "bal_bucket"),
      k = 5)
      .orderBy("nation", "segment", "bal_bucket")

  /** Set-containment self-join (q127): the asymmetric near-dup Jaccard
    * misses — smaller shingle set >= 90% inside a larger one, sets of at
    * least 10 shingles ([[graft.operators.SetSimilarity.containmentJoin]]).
    * The brute-force DuckDB oracle proves the adapted prefix filter
    * COMPLETE, q113's differential argument. */
  private def containmentJoinQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.SetSimilarity.containmentJoin(
      documents(s, dir), "doc_id", "text",
      threshold = 0.9, minSetSize = 10, shingleSize = 3)
      .orderBy("id_a", "id_b")

  /** Banded-LSH recall ablation (q128): the q18 candidate pipeline at
    * rows-per-band 4/8/16 (bands 8/4/2) measured against the EXACT
    * 3-shingle Jaccard >= 0.7 truth set from q113's prefix-filter join —
    * the S-curve tuning measurement (more rows per band = sharper
    * threshold, lower recall below it). 3-gram shingles keep both sides
    * honest at scale: the 2-gram universe is vocabulary²-bounded and
    * floods the truth join's prefix filter. The corpus is signed ONCE
    * ([[Dedup.minhashCandidatePairsFromSigs]]) and banded three ways.
    * Truth and candidates are each independently oracle-proven
    * (q113 / q18); this query pins their composition. */
  private def lshRecallQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, dir)
    val truth = graft.Caching.track(
      graft.operators.SetSimilarity.selfJoin(
        docs, "doc_id", "text", threshold = 0.7, shingleSize = 3)
        .select(col("id_a"), col("id_b")))
    val sigs = graft.Caching.track(
      Dedup.minhashSigs(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 32, portable = true))
    val configs = Seq(4, 8, 16)
    // persist the union: both aggregates below consume it, and without the
    // cache each would re-run all three banding pipelines
    val cands = graft.Caching.track(configs.map { rpb =>
      Dedup.minhashCandidatePairsFromSigs(sigs,
        numHashes = 32, rowsPerBand = rpb, portable = true)
        .select(col("id_a"), col("id_b"))
        .withColumn("rows_per_band", lit(rpb.toLong))
    }.reduce(_ unionByName _))
    val nCand = cands.groupBy("rows_per_band")
      .agg(count(lit(1)).as("n_candidates"))
    val nCaught = cands.join(truth, Seq("id_a", "id_b"))
      .groupBy("rows_per_band").agg(count(lit(1)).as("n_caught"))
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    configs.map(_.toLong).toDF("rows_per_band")
      .join(nCand, Seq("rows_per_band"), "left")
      .join(nCaught, Seq("rows_per_band"), "left")
      .crossJoin(nTrue)
      .select(
        col("rows_per_band"),
        (lit(32L) / col("rows_per_band")).cast("long").as("bands"),
        col("n_true"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"),
        (coalesce(col("n_caught"), lit(0L)).cast("double") / col("n_true"))
          .as("recall"))
      .orderBy("rows_per_band")
  }

  /** Incremental trailing-distinct (q129): q125's series maintained
    * against a day-split batch (store < 2024-01-15 <= batch, q112's cut)
    * — the recompute region reads only pairs within W days of the batch
    * boundary ([[graft.operators.SlidingDistinct.trailingDistinctUpdate]]);
    * the oracle is the ONE-SHOT series, the q112 indistinguishability
    * argument. */
  private def slidingDistinctIncQ(s: SparkSession, dir: String): DataFrame = {
    def dayNum(c: Column): Column = datediff(c, lit("1970-01-01")).cast("long")
    val ev = events(s, dir)
      .select(dayNum(eventDay(col("ts"))).as("d"), col("user_id"))
    val cutDay = 19737L // 2024-01-15, q112's incremental split
    graft.operators.SlidingDistinct.trailingDistinctUpdate(
      ev.filter(col("d") < cutDay), ev.filter(col("d") >= cutDay),
      "d", "user_id", windowDays = 7)
      .orderBy("day")
  }

  /** PQ-ADC recall ablation (q130): 8×16 product-quantization codes (4
    * bytes/vector vs 256) scanned via the asymmetric distance table,
    * measured against the exact cosine top-5 for the q16 probe set;
    * codebook = the deterministic vec_id < 16 corpus slice
    * ([[Similarity.pqAdcRecall]]). Fixed-order IEEE arithmetic end to
    * end, so the oracle replays codes, ADC and ranks bit-for-bit. */
  private def pqRecallQ(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    Similarity.pqAdcRecall(
      emb, emb.filter(col("vec_id") < 10), emb.filter(col("vec_id") < 16),
      "vec_id", "embedding", m = 8, dim = 64, codebookSize = 16, k = 5)
      .orderBy("query_id")
  }

  /** Mutual-kNN graph (q131): reciprocal cosine top-5 edges over the
    * whole embedding table — the robust similarity-graph edge rule
    * ([[Similarity.mutualTopK]]); the mutuality join runs on the
    * k-bounded top-k table. */
  private def mutualKnnQ(s: SparkSession, dir: String): DataFrame =
    Similarity.mutualTopK(embeddings(s, dir), "vec_id", "embedding", k = 5)
      .orderBy("id_a", "id_b")

  /** IVF mutual-kNN (q171): q131's reciprocal edge rule on IVF-bucketed
    * candidates — the sub-quadratic scale path ([[Similarity.mutualTopKIvf]]).
    * nlist auto-scales to ⌈√n⌉ so candidate volume is O(n^1.5·nprobe) and
    * bucket-join parallelism grows with the corpus; the count that sizes it
    * scans only the id column. */
  private def mutualKnnIvfQ(s: SparkSession, dir: String): DataFrame =
    ivfMutualEdges(s, dir).orderBy("id_a", "id_b")

  /** Shared IVF mutual-kNN edge builder (q171, and the candidate source
    * for q133/q139): nlist auto-scales to ⌈√n⌉, nprobe=4, k=5. */
  private def ivfMutualEdges(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val nlist = math.ceil(math.sqrt(
      emb.select(col("vec_id")).count().toDouble)).toInt
    val cents = Similarity.headCentroids(emb, "vec_id", "embedding", nlist)
    Similarity.mutualTopKIvf(emb, "vec_id", "embedding", k = 5,
      centroids = cents, nprobe = 4)
  }

  /** k-center coreset (q172): Gonzalez greedy farthest-point selection
    * (k=4) over the embedding table — diversity subset selection for
    * curation; output is every vector's assignment to its nearest chosen
    * exemplar ([[Coreset.kCenterAssign]]). */
  private def kcenterQ(s: SparkSession, dir: String): DataFrame =
    Coreset.kCenterAssign(embeddings(s, dir), "vec_id", "embedding", k = 4)
      .orderBy("id")

  /** Isotonic calibration (q173): cosine-to-anchor similarity calibrated
    * into a monotone match-probability against label agreement — 32 bins
    * over [-1,1], relational minimax fit ([[Calibration]]). The anchor is
    * the min-vec_id row (deterministic); the anchor itself is excluded. */
  private def isotonicCalQ(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val a = emb.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding"), col("label")).collect()(0)
    val (aid, avec, albl) = (a.getLong(0), a.getSeq[Float](1), a.getInt(2))
    val scored = emb.where(col("vec_id") =!= aid)
      .select(
        graft.plans.GraftExtensions.cosine(s, col("embedding"),
          array(avec.map(lit): _*)).as("score"),
        (col("label") === albl).as("match"))
    Calibration.isotonicCalibration(scored, "score", "match",
      lo = -1.0, hi = 1.0, bins = 32)
      .orderBy("bin")
  }

  /** Golden-record survivorship (q174): q47's minhash-LSH dup clusters
    * (singletons self-labeled) collapsed to canonical rows — min-id
    * canonical, mode-with-lexicographic-tie source/lang, max n_chars
    * ([[GoldenRecord.goldenRecords]]). */
  private def goldenRecordQ(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val comp = Dedup.connectedComponents(graft.Caching.track(
      Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)))
    val labeled = docs
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("doc_id")))
    GoldenRecord.goldenRecords(labeled, "cluster", "doc_id",
      categorical = Seq("source", "lang"), numericMax = Seq("n_chars"))
      .orderBy("cluster")
  }

  /** kNN label-purity audit (q175): each vector's IVF top-5 neighborhood
    * scored for label agreement — the embedding-space label-noise screen
    * (low purity = mislabel suspect / boundary point). Reuses q171's
    * sub-quadratic candidate stage ([[Similarity.ivfTopKAll]]). */
  private def knnLabelPurityQ(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val nlist = math.ceil(math.sqrt(
      emb.select(col("vec_id")).count().toDouble)).toInt
    val cents = Similarity.headCentroids(emb, "vec_id", "embedding", nlist)
    val top = Similarity.ivfTopKAll(emb, "vec_id", "embedding", k = 5,
      centroids = cents, nprobe = 4)
    val lbl = emb.select(col("vec_id"), col("label"))
    top
      .join(broadcast(lbl.toDF("query_id", "label")), Seq("query_id"))
      .join(broadcast(lbl.toDF("neighbor_id", "nlabel")), Seq("neighbor_id"))
      .groupBy(col("query_id").as("vec_id"), col("label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("nlabel") === col("label"), 1L).otherwise(0L)).as("n_same"))
      .withColumn("purity",
        col("n_same").cast("double") / col("n_neighbors").cast("double"))
      .orderBy("vec_id")
  }

  /** Greedy max-coverage audit (q176): which 3 corpus slices (a source OR
    * a language — overlapping sets, so the answer is NOT top-3 by raw
    * count) cover the most dup-affected documents
    * ([[graft.operators.SetCover.greedyMaxCoverage]] over q68's
    * duplicated-span screen). The membership table is localCheckpointed:
    * the greedy rounds re-scan it k×2 times. */
  private def setCoverQ(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val affected = Dedup.duplicatedSpans(docs, "doc_id", "text", windowTokens = 8)
      .filter(col("dup_windows") >= 1L).select(col("id").as("doc_id"))
    val slices = docs.join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        explode(array(concat(lit("src:"), col("source")),
          concat(lit("lang:"), col("lang")))).as("slice"))
      .localCheckpoint()
    graft.operators.SetCover.greedyMaxCoverage(slices, "slice", "doc_id", k = 3)
      .orderBy("round")
  }

  /** Frequent event trigrams (q177): contiguous length-3 paths by
    * distinct-user support with A-priori bigram pruning — q94's transition
    * matrix extended to whole paths
    * ([[graft.operators.SeqPatterns.frequentTrigrams]]). Same per-user
    * (µs, event_id) total order as q94. */
  private def seqTrigramsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.SeqPatterns.frequentTrigrams(
      events(s, dir).withColumn("tus",
        floor(col("ts").cast("decimal(20,0)") / lit(1000)).cast("long")),
      "user_id", Seq(col("tus"), col("event_id")), "event_type",
      minSupport = 5L)
      .orderBy("t1", "t2", "t3")

  /** CUPED experiment readout (q178): post-period per-user spend adjusted
    * by the pre-period covariate (θ pooled), groups simulated as
    * user_id % 2 — the WSDM'13 variance-reduction readout
    * ([[graft.operators.Experiment.cupedReadout]]). The pre/post pivot is
    * the midpoint of the observed day range (computed from the data — a
    * 2-long collect). */
  private def cupedQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"),
        graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val mm = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi")).collect()(0)
    val pivot = (mm.getLong(0) + mm.getLong(1) + 1L) / 2L
    val perUser = ev.groupBy(col("user_id"))
      .agg(sum(when(col("day") < pivot, col("cents")).otherwise(0L)).as("xc"),
        sum(when(col("day") >= pivot, col("cents")).otherwise(0L)).as("yc"))
      .select(pmod(col("user_id"), lit(2L)).as("grp"), col("xc"), col("yc"))
    graft.operators.Experiment.cupedReadout(perUser, "grp", "xc", "yc")
      .orderBy("grp")
  }

  /** l-diversity audit (q179): q126's quasi-identifier discipline with a
    * SENSITIVE attribute — per (nation, balance-bucket) class, how many
    * distinct segments appear (l < 2 = homogeneity attack: membership in
    * the class reveals the sensitive value) and how dominant the top one
    * is. Two map-side-combined aggregates, no windows. */
  private def lDiversityQ(s: SparkSession, dir: String): DataFrame = {
    val sc = customer(s, dir)
      .select(col("c_nationkey").cast("long").as("nation"),
        floor(col("c_acctbal") / 100).cast("long").as("bal_bucket"),
        col("c_mktsegment").as("segment"))
      .groupBy("nation", "bal_bucket", "segment")
      .agg(count(lit(1)).as("c"))
    sc.groupBy("nation", "bal_bucket")
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("l_distinct"),
        (max(col("c")).cast("double") / sum(col("c")).cast("double"))
          .as("top_share"))
      .withColumn("at_risk", col("l_distinct") < 2L)
      .orderBy("nation", "bal_bucket")
  }

  /** Seasonal-robust anomalies (q180): daily event counts per type,
    * deseasonalized against a per-(type, day-of-week) median baseline,
    * MAD-gated on the residuals — the STL-flavored screen that doesn't
    * flag every weekend ([[graft.operators.Seasonal]]; exact medians via
    * the q106 kernel). */
  private def seasonalAnomalyQ(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"),
        graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    graft.operators.Seasonal.weeklyRobustAnomalies(
      daily, "event_type", "day", "n")
      .select(col("series").as("event_type"), col("day"),
        col("v").cast("long").as("n"), col("expected"), col("residual"),
        col("med_resid"), col("mad"), col("is_anomaly"))
      .orderBy("event_type", "day")
  }

  /** Common-neighbor link prediction (q181): q115's co-purchase graph
    * scored for shared neighborhoods — high-CN NON-edges are transitively
    * similar pairs the direct edge rule missed
    * ([[graft.operators.Triangles.commonNeighborPairs]], super-node cap
    * 128, min 2 shared). */
  private def commonNeighborsQ(s: SparkSession, dir: String): DataFrame = {
    val op = lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = op.toDF("o", "pa").join(op.toDF("o", "pb"), "o")
      .where(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
      .select("pa", "pb")
    graft.operators.Triangles.commonNeighborPairs(edges, "pa", "pb",
      maxApexDegree = 128L, minCommon = 2L)
      .orderBy("id_a", "id_b")
  }

  /** As-was vs as-is bitemporal audit (q182): purchases joined to the
    * user's SCD2 activity-status dimension (q55's intervals over the
    * non-purchase stream) BOTH at purchase time and currently — the
    * late-correction report shape: how differently would history read
    * under today's dimension values. */
  private def asWasAsIsQ(s: SparkSession, dir: String): DataFrame = {
    def us(c: Column): Column =
      floor(c.cast("decimal(20,0)") / lit(1000)).cast("long")
    val ev = events(s, dir)
    val changes = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), us(col("ts")).as("t"), col("event_type").as("status"))
    val dim = graft.operators.Scd2
      .buildIntervals(changes, Seq("user_id"), "t", Seq("status"))
      .select(col("user_id").as("du"), col("status"),
        col("valid_from"), col("valid_to"), col("is_current"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), us(col("ts")).as("tf"))
    val aswas = facts.join(dim,
        col("user_id") === col("du") && col("valid_from") <= col("tf") &&
          (col("valid_to").isNull || col("tf") < col("valid_to")), "left")
      .select(col("user_id"), col("tf"), col("status").as("s_aswas"))
    val asis = dim.filter(col("is_current"))
      .select(col("du").as("user_id"), col("status").as("s_asis"))
    aswas.join(asis, Seq("user_id"), "left")
      .groupBy(coalesce(col("s_aswas"), lit("none")).as("status_aswas"),
        coalesce(col("s_asis"), lit("none")).as("status_asis"))
      .agg(count(lit(1)).as("n_facts"))
      .withColumn("changed", col("status_aswas") =!= col("status_asis"))
      .orderBy("status_aswas", "status_asis")
  }

  /** Incremental profile survivorship (q183): per-user golden profile
    * (favorite event type = mode, max spend, last-seen day) maintained
    * from a persisted count STATE plus a new batch — history is never
    * rescanned; the (user, type, cnt) table is the sufficient statistic
    * and a mode can flip when batch votes land
    * ([[GoldenRecord.mergeModeState]]/[[GoldenRecord.modeFromState]]).
    * The oracle recomputes from ALL events — parity proves
    * incremental == full. */
  private def profileStoreQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"),
      graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"),
      col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val mm = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi")).collect()(0)
    val pivot = (mm.getLong(0) + mm.getLong(1) + 1L) / 2L
    val old = ev.filter(col("day") < pivot)
    val batch = ev.filter(col("day") >= pivot)
    val typeState = old.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val baseState = old.groupBy("user_id").agg(
      count(lit(1)).as("n1"), max(col("cents")).as("m1"), max(col("day")).as("l1"))
    val merged = GoldenRecord.mergeModeState(typeState,
      batch.select(col("user_id"), col("event_type")), "user_id", "event_type")
    val fav = GoldenRecord.modeFromState(merged,
      "user_id", "event_type", "cnt", "fav_type")
    val baseNew = batch.groupBy("user_id").agg(
      count(lit(1)).as("n2"), max(col("cents")).as("m2"), max(col("day")).as("l2"))
    baseState.join(baseNew, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n_events"),
        greatest(coalesce(col("m1"), col("m2")), coalesce(col("m2"), col("m1")))
          .as("max_cents"),
        greatest(coalesce(col("l1"), col("l2")), coalesce(col("l2"), col("l1")))
          .as("last_day"))
      .join(fav, Seq("user_id"))
      .orderBy("user_id")
  }

  /** Coreset coverage drift (q184): the store's k-center exemplars
    * ([[Coreset.selectCenters]] on historical vectors) probed by a new
    * batch — per center: the store's coverage radius, how many new points
    * landed there, and how many fell BEYOND the radius (the "new region
    * of embedding space" alarm that says re-select before the coreset
    * misrepresents the corpus). Assignment reuses [[Coreset.assign]];
    * selection is never re-run on history. */
  private def coresetDriftQ(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val old = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 0L)
    val batch = emb.filter(pmod(col("vec_id"), lit(10L)) === 0L)
    val centers = Coreset.selectCenters(old, "vec_id", "embedding", k = 4)
    val oldA = Coreset.assign(old, "vec_id", "embedding", centers)
    val radius = oldA.groupBy("center_rank")
      .agg(max(col("center_id")).as("center_id"), max(col("dist")).as("radius"))
    val newA = Coreset.assign(batch, "vec_id", "embedding", centers)
    val stats = newA
      .join(radius.select(col("center_rank"), col("radius").as("__r")), Seq("center_rank"))
      .groupBy("center_rank")
      .agg(count(lit(1)).as("n_new"), max(col("dist")).as("max_dist_new"),
        sum(when(col("dist") > col("__r"), 1L).otherwise(0L)).as("n_beyond"))
    radius.join(stats, Seq("center_rank"), "left")
      .select(col("center_rank"), col("center_id"), col("radius"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        col("max_dist_new"),
        coalesce(col("n_beyond"), lit(0L)).as("n_beyond"))
      .orderBy("center_rank")
  }

  /** The q185 quality-gate GBDT stand-in: a fixed 3-tree additive
    * ensemble over (n_chars, n_tokens, avg_len). ONE spec generates both
    * the Catalyst CASE chain and the oracle SQL
    * ([[graft.operators.Scoring.TreeEnsemble]]). */
  private[graft] val qualityEnsemble = graft.operators.Scoring.TreeEnsemble(Seq(
    graft.operators.Scoring.Split("n_tokens", 40.0,
      graft.operators.Scoring.Leaf(-0.6),
      graft.operators.Scoring.Split("avg_len", 3.5,
        graft.operators.Scoring.Leaf(0.2), graft.operators.Scoring.Leaf(0.7))),
    graft.operators.Scoring.Split("n_chars", 150.0,
      graft.operators.Scoring.Leaf(-0.3), graft.operators.Scoring.Leaf(0.4)),
    graft.operators.Scoring.Split("avg_len", 8.0,
      graft.operators.Scoring.Split("n_tokens", 120.0,
        graft.operators.Scoring.Leaf(0.1), graft.operators.Scoring.Leaf(-0.2)),
      graft.operators.Scoring.Leaf(-0.5))))

  /** Tree-ensemble inference (q185): the quality-gate GBDT compiled to
    * nested CASE columns — UDF-free model scoring inside whole-stage
    * codegen at scan speed; margin kept raw (no sigmoid — thresholding a
    * margin is equivalent and transcendental-free). */
  private def treeScoringQ(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir).select(col("doc_id"),
      col("n_chars").cast("double").as("n_chars"),
      size(split(trim(col("text")), "\\s+")).cast("double").as("n_tokens"))
      .withColumn("avg_len", col("n_chars") / col("n_tokens"))
    val feat: String => Column = {
      case "n_chars" => col("n_chars")
      case "n_tokens" => col("n_tokens")
      case "avg_len" => col("avg_len")
    }
    base.select(col("doc_id"),
      qualityEnsemble.column(feat).as("margin"))
      .withColumn("accept", col("margin") > 0.0)
      .orderBy("doc_id")
  }

  /** q186's literal weight table: deterministic splitmix-derived
    * fixed-point units in [-1000, 1000] (1e-5 of a margin unit each) —
    * both faces print/apply the SAME Scala values, so the derivation
    * never needs cross-engine replay. */
  private[graft] val hashedWeightUnits: Seq[Long] = (0 until 64).map { i =>
    java.lang.Math.floorMod(
      graft.functions.PortableHash.splitmix((0xC0FFEEL << 32) | i.toLong),
      2001L) - 1000L
  }

  /** Hashing-trick linear scorer (q186): token → md5-hash bucket →
    * fixed-point weight units; the integer token-bag sum is order-free,
    * margin = units/1e5 in one final division — Weinberger et al.'s
    * fixed-dimension featurization with no vocabulary shuffle
    * ([[graft.operators.Scoring.hashedLinearMargin]]). */
  private def hashedLinearQ(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(col("doc_id"),
      graft.operators.Scoring.hashedLinearMargin(
        col("text"), hashedWeightUnits, biasUnits = 5000L,
        unitsPerOne = 100000.0).as("margin"))
      .withColumn("flagged", col("margin") > 0.0)
      .orderBy("doc_id")

  /** Leave-one-out target encoding (q187): smoothed category→rate feature
    * with the self-leak removed — row i's own label is excluded from its
    * category's rate ([[graft.operators.Encoding.looTargetEncoding]]).
    * Segment encoded against order urgency; singleton categories surface
    * null rather than an invented prior. */
  private def targetEncodingQ(s: SparkSession, dir: String): DataFrame = {
    val j = orders(s, dir).join(customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment").as("segment"),
        (col("o_orderpriority") === "1-URGENT").as("urgent"))
    graft.operators.Encoding.looTargetEncoding(
      j, "segment", "urgent", alpha = 1.0, out = "enc")
      .select(col("o_orderkey"), col("segment"), col("urgent"), col("enc"))
      .orderBy("o_orderkey")
  }

  /** RLE compressibility ablation (q188): run-length entries for
    * l_returnflag under the natural (orderkey-bucket) layout vs a
    * value-clustered layout — the encoding-choice audit a columnar
    * writer runs per row group ([[graft.operators.Layout.rleRunsReport]];
    * zones are the row-group analogue and the window unit, never a
    * global sort). */
  private def rleAuditQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val li = lineitem(s, dir).select(col("l_orderkey").as("k"),
      col("l_linenumber").as("ln"), col("l_returnflag").as("v"))
    // (k, ln) is NOT unique in the synthetic lineitem — the value itself
    // is the final tiebreaker, which is run-count-safe (ambiguity only
    // ever swaps equal-value rows, and equal neighbors are never a run
    // boundary)
    val natural = Layout.rleRunsReport(li,
      ((col("k") - pmod(col("k"), lit(1000L))) / lit(1000L)).cast("long"),
      Seq(col("k"), col("ln"), col("v")), col("v"))
      .select(lit("natural").as("layout"), col("*"))
    val clustered = Layout.rleRunsReport(li,
      col("v"), Seq(col("k"), col("ln"), col("v")), col("v"))
      .select(lit("by_value").as("layout"), col("*"))
    natural.unionByName(clustered).orderBy("layout")
  }

  /** Portable-bloom FPR audit (q189): the relational bloom (k salted
    * md5 positions, filter = the distinct position SET — cross-engine by
    * construction) built on large parts, probed with keys known absent;
    * observed false-positive rate, not the textbook formula
    * ([[graft.operators.PortableBloom.fprReport]]). m=512 deliberately
    * undersized so the audit measures a non-trivial rate. */
  private def bloomFprQ(s: SparkSession, dir: String): DataFrame = {
    val p = part(s, dir)
    graft.operators.PortableBloom.fprReport(
      p.where(col("p_size") >= 48), col("p_partkey"),
      p.where(col("p_size") < 48), col("p_partkey"),
      m = 512, k = 3)
  }

  /** Partition checksum reconciliation (q190): the cheap first pass of a
    * 100 TB snapshot compare — per-day row counts + order-independent
    * md5 content checksums, full-outer diffed; only mismatching
    * partitions would proceed to q98's row-grain diff
    * ([[graft.operators.Reconcile]]). Snapshot B simulates loss of every
    * 101st event. */
  private def reconcileQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"),
      graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"))
    val b = ev.where(pmod(col("event_id"), lit(101L)) =!= 0L)
    graft.operators.Reconcile.reconcile(ev, b, col("day"),
      concat_ws(":", col("event_id"), col("user_id"), col("event_type")))
      .orderBy("part")
  }

  /** Incremental view maintenance (q191): a committed daily-count store
    * plus a late batch → delta rows for ONLY the affected (day, type)
    * groups ([[graft.operators.ViewMaintenance.countDelta]]); the
    * full-rebuild answer never materializes. Late batch simulated as
    * every 17th event. */
  private def viewMaintenanceQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(
      graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"),
      col("event_type"), col("event_id"))
    val store = ev.filter(pmod(col("event_id"), lit(17L)) =!= 0L)
      .groupBy("day", "event_type").agg(count(lit(1)).as("old_n"))
    val late = ev.filter(pmod(col("event_id"), lit(17L)) === 0L)
    graft.operators.ViewMaintenance.countDelta(
      store, late, Seq("day", "event_type"))
      .orderBy("day", "event_type")
  }

  /** Self-join size (F2) estimation audit (q192): exact Σc² for the
    * events-by-user self-join vs the optimizer-style estimate from a
    * top-10 heavy-hitter list + uniform-tail model — the skew question
    * every join-size estimator gets wrong first. All-integer moments;
    * doubles only in the final ratio. */
  private def joinEstimateQ(s: SparkSession, dir: String): DataFrame = {
    def sq(c: Column): Column =
      (c.cast("decimal(19,0)") * c.cast("decimal(19,0)")).cast("decimal(38,0)")
    val c = events(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
    // top-10 head via TakeOrderedAndProject (per-partition bounded heaps),
    // never a global rank window over the full key grain; the tail moments
    // are total minus head
    val head = c.orderBy(col("c").desc, col("user_id").asc).limit(10)
    val headAgg = head.agg(
      coalesce(sum(sq(col("c"))), lit(0).cast("decimal(38,0)")).as("head_f2"),
      coalesce(sum(col("c")), lit(0L)).as("__hn"),
      count(lit(1)).as("__hd"))
    val agg = c.agg(
      sum(sq(col("c"))).as("f2"),
      sum(col("c")).as("__n_all"),
      count(lit(1)).as("__d_all"))
      .crossJoin(broadcast(headAgg))
      .select(col("f2"), col("head_f2"),
        (col("__n_all") - col("__hn")).as("tail_n"),
        (col("__d_all") - col("__hd")).as("tail_d"))
    agg.select(
      col("f2").cast("double").as("true_f2"),
      (col("head_f2").cast("double") +
        when(col("tail_d") > 0L,
          (col("tail_n").cast("decimal(38,0)") * col("tail_n").cast("decimal(38,0)"))
            .cast("double") / col("tail_d").cast("double"))
          .otherwise(lit(0.0))).as("est_f2"))
      .withColumn("rel_err",
        (col("est_f2") - col("true_f2")) / col("true_f2"))
  }

  /** CUBE rollup (q193): segment × priority revenue cube with
    * grouping_id — the grouping-sets surface (marked absent in the
    * reference, present in the engine for SQL completeness); money
    * through the exact-cents policy. */
  private def cubeRollupQ(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"), col("o_totalprice"))
      .cube(col("segment"), col("priority"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        Rollups.exactMoneySum(col("o_totalprice")).as("revenue"))
      .orderBy("gid", "segment", "priority")

  /** k-anonymity generalization ladder (q194): coarsen the balance
    * quasi-identifier (width 100 → 1000 → dropped) and report how many
    * classes stay under k=5 and how many rows suppression would cost at
    * each rung — the repair loop q126's audit feeds. */
  private def generalizationLadderQ(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).select(
      col("c_nationkey").cast("long").as("nation"), col("c_acctbal"))
    def rung(name: String, cls: Column): DataFrame =
      c.groupBy(cls.as("cls")).agg(count(lit(1)).as("n"))
        .agg(lit(name).as("rung"),
          count(lit(1)).as("n_classes"),
          Rollups.countIf(col("n") < 5L).as("n_at_risk"),
          coalesce(sum(when(col("n") < 5L, col("n"))), lit(0L))
            .as("rows_suppressed"),
          (coalesce(sum(when(col("n") < 5L, col("n"))), lit(0L)).cast("double") /
            sum(col("n")).cast("double")).as("suppression_rate"))
    rung("w100", concat_ws(":", col("nation"),
        floor(col("c_acctbal") / 100).cast("long")))
      .unionByName(rung("w1000", concat_ws(":", col("nation"),
        floor(col("c_acctbal") / 1000).cast("long"))))
      .unionByName(rung("nation_only", col("nation").cast("string")))
      .orderBy("rung")
  }

  /** Rare-transition fluency screen (q195): corpus bigram model
    * (p(b|a) = c(ab)/c(a·)) self-scored over every document — the
    * log-free cousin of perplexity filtering (Wenzek et al.'s CCNet
    * idea): a doc whose transitions are mostly rare under the corpus
    * model is garbage/boilerplate/wrong-language; counting sub-threshold
    * transitions needs no transcendentals, so it oracle-replays exactly
    * where a log-likelihood would drift. */
  private def rareTransitionsQ(s: SparkSession, dir: String): DataFrame = {
    val inst = documents(s, dir)
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("t"))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "a")))
      .withColumn("b", lead(col("a"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("i"))))
      .where(col("b").isNotNull)
    val cab = inst.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val ca = inst.groupBy(col("a")).agg(count(lit(1)).as("c_a"))
    val model = cab.join(ca, Seq("a"))
      .withColumn("p", col("c_ab").cast("double") / col("c_a").cast("double"))
    inst.join(model.select(col("a"), col("b"), col("p")), Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        Rollups.countIf(col("p") < 0.01).as("n_rare"))
      .withColumn("rare_frac",
        col("n_rare").cast("double") / col("n_bigrams").cast("double"))
      .withColumn("suspicious", col("rare_frac") > 0.3)
      .orderBy("doc_id")
  }

  /** Growth accounting (q196): weekly actives decomposed into
    * new/retained/resurrected with churn attributed to the first silent
    * week ([[graft.operators.Growth.accounting]]) — the canonical
    * user-base decomposition; identities
    * (active = new+retained+resurrected) spec-pinned. */
  private def growthAccountingQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Growth.accounting(
      events(s, dir).select(col("user_id"),
        (graft.operators.Funnel.epochDayFromNanos(col("ts")) / lit(7L))
          .cast("long").as("week")),
      "user_id", "week")
      .orderBy("period")

  /** DAU/WAU stickiness (q197): daily actives over trailing-7-day actives
    * — the engagement ratio every growth dashboard carries; the WAU side
    * reuses q125's contribution-explode exact rolling distinct
    * ([[graft.operators.SlidingDistinct.trailingDistinct]]). */
  private def stickinessQ(s: SparkSession, dir: String): DataFrame = {
    val pairs = events(s, dir).select(
      graft.operators.Funnel.epochDayFromNanos(col("ts")).as("d"),
      col("user_id"))
    val dau = pairs.distinct().groupBy(col("d").as("day"))
      .agg(count(lit(1)).as("dau"))
    val wau = graft.operators.SlidingDistinct.trailingDistinct(
      pairs, "d", "user_id", windowDays = 7)
      .withColumnRenamed("n_active", "wau")
    dau.join(wau, Seq("day"))
      .withColumn("stickiness",
        col("dau").cast("double") / col("wau").cast("double"))
      .orderBy("day")
  }

  /** Sample-ratio-mismatch check (q198): the experimentation guardrail —
    * distinct users per simulated arm (user_id % 2) vs the expected 50/50
    * split, chi-square GOF with the 1-dof 5% critical value. An SRM means
    * the assignment itself is broken and every downstream readout (q178)
    * is void. */
  private def srmCheckQ(s: SparkSession, dir: String): DataFrame = {
    val arms = events(s, dir).select(col("user_id")).distinct()
      .groupBy(pmod(col("user_id"), lit(2L)).as("grp"))
      .agg(count(lit(1)).as("n"))
    val agg = arms.agg(
      sum(when(col("grp") === 0L, col("n")).otherwise(0L)).as("n_0"),
      sum(when(col("grp") === 1L, col("n")).otherwise(0L)).as("n_1"))
    agg.select(col("n_0"), col("n_1"),
      ((col("n_0") + col("n_1")).cast("double") / lit(2.0)).as("expected"))
      .withColumn("chi2",
        (col("n_0").cast("double") - col("expected")) *
          (col("n_0").cast("double") - col("expected")) / col("expected") +
        (col("n_1").cast("double") - col("expected")) *
          (col("n_1").cast("double") - col("expected")) / col("expected"))
      .withColumn("srm_flag", col("chi2") > 3.841458820694124)
  }

  /** Funnel A/B significance (q199): full-funnel conversion
    * (signup→click→purchase, q90's greedy-earliest steps) compared
    * across simulated arms with the exact-integer 2×2 chi-square
    * `N(ad−bc)²/((a+b)(c+d)(a+c)(b+d))` — products carried in
    * decimal(38,0)/HUGEINT, ONE double division at the end, so the
    * statistic replays bit-for-bit (z² on proportions is the same test). */
  private def funnelAbQ(s: SparkSession, dir: String): DataFrame = {
    val steps = graft.operators.Funnel.funnelSteps(
      events(s, dir).withColumn("tus",
        floor(col("ts").cast("decimal(20,0)") / lit(1000)).cast("long")),
      "user_id", "tus", "event_type",
      Seq("signup", "click", "purchase"))
      .select(pmod(col("user_id"), lit(2L)).as("arm"),
        (col("steps_completed") >= 3 &&
          col("t3") - col("t1") <= lit(86400000000L)).as("conv"))
    val d38 = "decimal(38,0)"
    val agg = steps.agg(
      Rollups.countIf(col("arm") === 0L && col("conv")).as("a"),
      Rollups.countIf(col("arm") === 0L && !col("conv")).as("b"),
      Rollups.countIf(col("arm") === 1L && col("conv")).as("c"),
      Rollups.countIf(col("arm") === 1L && !col("conv")).as("d"))
    agg.select(
      (col("a") + col("b")).as("n_0"), col("a").as("conv_0"),
      (col("c") + col("d")).as("n_1"), col("c").as("conv_1"),
      (col("a").cast("double") / (col("a") + col("b")).cast("double"))
        .as("rate_0"),
      (col("c").cast("double") / (col("c") + col("d")).cast("double"))
        .as("rate_1"),
      when(
        (col("a") + col("b")) > 0L && (col("c") + col("d")) > 0L &&
          (col("a") + col("c")) > 0L && (col("b") + col("d")) > 0L,
        ((col("a") + col("b") + col("c") + col("d")).cast(d38) *
          ((col("a").cast(d38) * col("d").cast(d38) -
            col("b").cast(d38) * col("c").cast(d38)) *
           (col("a").cast(d38) * col("d").cast(d38) -
            col("b").cast(d38) * col("c").cast(d38)))).cast("double") /
          ((col("a") + col("b")).cast(d38) * (col("c") + col("d")).cast(d38) *
           (col("a") + col("c")).cast(d38) * (col("b") + col("d")).cast(d38))
            .cast("double"))
        .otherwise(lit(0.0)).as("chi2"))
      .withColumn("significant", col("chi2") > 3.841458820694124)
  }

  /** Balanced-assignment makespan audit (q200): token-weighted shards
    * placed on 8 workers by plain hash vs sorted round-robin (rank by
    * weight desc, then modulo) — the scheduling question behind every
    * epoch-shard plan (q70): how much makespan does size-aware placement
    * buy. Shard grain is bounded (40 ids), the rank window runs on that
    * grain only. */
  private def makespanQ(s: SparkSession, dir: String): DataFrame = {
    val shards = documents(s, dir)
      .select(pmod(col("doc_id"), lit(40L)).as("shard"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"))
      .groupBy("shard").agg(sum(col("toks")).as("w"))
    val k = 8
    def report(name: String, worker: Column): DataFrame =
      shards.withColumn("worker", worker)
        .groupBy("worker").agg(sum(col("w")).as("load"))
        .agg(lit(name).as("strategy"), lit(k).as("workers"),
          max(col("load")).as("makespan"), sum(col("load")).as("total"))
        .withColumn("imbalance",
          col("makespan").cast("double") /
            (col("total").cast("double") / lit(k.toDouble)))
    val hash = report("hash", pmod(col("shard"), lit(k.toLong)))
    val lpt = report("sorted_rr",
      // shard grain (q70's fixed shard count), not rows — bounded domain
      pmod(row_number().over(
        Window.partitionBy(lit(0))
          .orderBy(col("w").desc, col("shard").asc)) - 1, lit(k)))
    hash.unionByName(lpt).orderBy("strategy")
  }

  /** The q201 candidate layouts × probe workload: zone expression and
    * range predicate per axis, shared by the Spark query and the
    * generated oracle SQL (one spec, two faces — the q185 discipline). */
  private[graft] val advisorLayouts = Seq(
    ("by_month", "date_trunc('month', CAST(l_shipdate AS DATE))"),
    ("by_orderkey", "CAST((l_orderkey - l_orderkey % 1000) / 1000 AS BIGINT)"),
    ("by_price", "CAST(floor(l_extendedprice / 1000) AS BIGINT)"))
  private[graft] val advisorProbes = Seq(
    ("ship_q1_1997", "CAST(l_shipdate AS DATE)",
      "DATE '1997-01-01'", "DATE '1997-03-31'"),
    ("orderkey_band", "l_orderkey", "10000", "20000"),
    ("price_band", "l_extendedprice", "20000.0", "30000.0"))

  /** Physical-design advisor (q201): every candidate clustering × every
    * workload predicate → fraction of rows a zone-map scan must read —
    * the "which column should this table cluster by" matrix, built from 9
    * runs of q108's pruning kernel ([[graft.operators.Layout]]). Each
    * layout wins its own axis and pays on the others; the matrix IS the
    * trade-off. */
  private def indexAdvisorQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val li = lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"),
      col("l_extendedprice"))
    def zone(name: String): Column = name match {
      case "by_month" => trunc(col("l_shipdate").cast("date"), "month")
      case "by_orderkey" =>
        ((col("l_orderkey") - pmod(col("l_orderkey"), lit(1000L))) / lit(1000L))
          .cast("long")
      case "by_price" => floor(col("l_extendedprice") / 1000).cast("long")
    }
    def probe(name: String): (Column, Column, Column) = name match {
      case "ship_q1_1997" => (col("l_shipdate").cast("date"),
        lit("1997-01-01").cast("date"), lit("1997-03-31").cast("date"))
      case "orderkey_band" => (col("l_orderkey"), lit(10000L), lit(20000L))
      case "price_band" => (col("l_extendedprice"), lit(20000.0), lit(30000.0))
    }
    advisorLayouts.flatMap { case (lname, _) =>
      advisorProbes.map { case (pname, _, _, _) =>
        val (c, lo, hi) = probe(pname)
        Layout.pruningReport(li, zone(lname).cast("string"), c, lo, hi)
          .select(lit(lname).as("layout"), lit(pname).as("probe"),
            col("zones_total"), col("zones_scanned"),
            col("rows_scanned"), col("rows_matched"),
            (col("rows_scanned").cast("double") /
              col("rows_total").cast("double")).as("frac_scanned"))
      }
    }.reduce(_ unionByName _).orderBy("layout", "probe")
  }

  /** Token capacity forecast (q202): exact-OLS trend over daily corpus
    * token counts, extrapolated 7 days — capacity planning with the
    * q103 exact-moments discipline (all second moments in decimal(38,0),
    * doubles only in the slope/intercept/forecast chain, so every
    * forecast value replays bit-for-bit). */
  private def tokenForecastQ(s: SparkSession, dir: String): DataFrame = {
    val (daily, fit) = dailyOlsFit(s, dir)
    fit.select(col("slope"), col("intercept"),
        explode(sequence(col("x_max") + 1L, col("x_max") + 7L)).as("day"))
      .select(col("day"),
        (col("intercept") + col("slope") * col("day").cast("double"))
          .as("forecast_events"),
        col("slope"), col("intercept"))
      .orderBy("day")
  }

  /** Shared exact-OLS daily fit (q202/q207): returns the (x, y) daily
    * frame and a 1-row (slope, intercept, x_max) fit — all second
    * moments exact. */
  private def dailyOlsFit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d38 = "decimal(38,0)"
    val daily = events(s, dir)
      .groupBy(graft.operators.Funnel.epochDayFromNanos(col("ts")).as("x"))
      .agg(count(lit(1)).as("y"))
    val m = daily.agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum((col("x").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
        .cast(d38)).as("sxy"),
      sum((col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)"))
        .cast(d38)).as("sxx"),
      max(col("x")).as("x_max"))
    val fit = m.select(
      ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .as("slope"),
      col("sy"), col("sx"), col("n"), col("x_max"))
      .select(col("slope"),
        ((col("sy").cast("double") -
          col("slope") * col("sx").cast("double")) /
          col("n").cast("double")).as("intercept"),
        col("x_max"))
    (daily, fit)
  }

  /** Forecast with empirical bands (q207): q202's trend line plus p10/p90
    * residual quantiles from the historical fit errors — prediction
    * intervals without any distributional assumption (and without
    * transcendentals: residuals are deterministic doubles, the band edges
    * come from the exact quantile kernel, and the bands are one addition
    * each). */
  private def forecastBandsQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profiling
    val (daily, fit) = dailyOlsFit(s, dir)
    val resid = daily.crossJoin(broadcast(fit))
      .select(lit("all").as("k"),
        (col("y").cast("double") -
          (col("intercept") + col("slope") * col("x").cast("double")))
          .as("r"))
    val qs = Profiling.exactQuantilesByKey(resid, "k", "r", Seq(0.1, 0.9))
    val bands = qs.groupBy("k").agg(
      max(when(col("prob") === 0.1, col("value"))).as("q10"),
      max(when(col("prob") === 0.9, col("value"))).as("q90"))
    fit.crossJoin(broadcast(bands))
      .select(col("slope"), col("intercept"), col("q10"), col("q90"),
        explode(sequence(col("x_max") + 1L, col("x_max") + 7L)).as("day"))
      .select(col("day"),
        (col("intercept") + col("slope") * col("day").cast("double"))
          .as("forecast_events"),
        ((col("intercept") + col("slope") * col("day").cast("double")) +
          col("q10")).as("lo"),
        ((col("intercept") + col("slope") * col("day").cast("double")) +
          col("q90")).as("hi"))
      .orderBy("day")
  }

  /** Longest cross-document duplicated substring per doc (q208): q116's
    * prefix-doubling loop run to FULL depth — suffix order + adjacent
    * different-doc LCP walk answers "how long", which no fixed-w window
    * screen can ([[graft.operators.SuffixArray.maxDupSubstring]]). The
    * oracle brute-forces every (length, start) gram — disjoint algorithm,
    * same answer. */
  private def maxDupSubstringQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.SuffixArray.maxDupSubstring(documents(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Top principal direction (q209): q81's one-pass quantized Gram
    * reduction (the only data-sized stage) + 8 rounds of integer-exact
    * power iteration on the collected 64×64 matrix — the q120 fixed-point
    * idiom applied to an eigenproblem ([[graft.operators.Pca]]). Output
    * is the 64 loadings (fixed-point 2^20) and the dominant-eigenvalue
    * estimate, all engine-portable integers. */
  private def pcaPowerQ(s: SparkSession, dir: String): DataFrame = {
    val g = graft.operators.Gram.quantizedGram(embeddings(s, dir), "vec_id", "embedding", 64)
    val (v, lambdaFp) = graft.operators.Pca.topComponent(g, 64)
    import s.implicits._
    v.zipWithIndex.toSeq.map { case (l, d) => (d, l, lambdaFp) }
      .toDF("dim", "loading", "lambda_fp")
      .orderBy("dim")
  }

  /** Top-PC projection profile (q210): every vector's exact integer
    * projection onto q209's loading vector (a codegen'd long fold — the
    * "apply" face of the trainer, the q172/q184 coreset split), profiled
    * as a fixed-width histogram. Bucketing adds 2^40 (scores are bounded
    * by dim·127·2^20 ≈ 2^33) before the 26-bit shift, so the floor
    * division by 2^26 only ever sees non-negative operands — no
    * negative-division ambiguity between engines. */
  private def pcaScoresQ(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val g = graft.operators.Gram.quantizedGram(e, "vec_id", "embedding", 64)
    val (v, _) = graft.operators.Pca.topComponent(g, 64)
    val qt = Similarity.quantizeInt8(e, "vec_id", "embedding")
    val offset = 1L << 40
    qt.select(col("vec_id"),
        graft.operators.Pca.projectionScore(col("qvec"), v).as("score"))
      .groupBy((shiftright(col("score") + lit(offset), 26) - lit(offset >> 26))
        .as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .orderBy("bucket")
  }

  /** Poisson-bootstrap confidence intervals (q211): per event type, the
    * exact mean plus the p2.5/p97.5 band of 32 deterministic Poisson(1)
    * replicate means ([[graft.operators.Bootstrap]] — hash-drawn integer
    * weights, decimal-exact weighted sums, the q207 quantile kernel for
    * the band). The distributed-bootstrap shape: one ×32 fan-out folded
    * by a map-side-combined sum, never a materialized resample. */
  private def bootstrapCiQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Bootstrap, Profiling}
    val ev = events(s, dir).select(col("event_type"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val reps = Bootstrap.poissonReplicateMeans(ev, "event_id", "cents", "event_type", 32)
    val ci = Profiling.exactQuantilesByKey(reps, "event_type", "mean", Seq(0.025, 0.975))
      .groupBy("event_type").agg(
        max(when(col("prob") === 0.025, col("value"))).as("lo_cents"),
        max(when(col("prob") === 0.975, col("value"))).as("hi_cents"))
    ev.groupBy("event_type")
      .agg(sum(col("cents").cast("decimal(38,0)")).as("sc"), count(lit(1)).as("n"))
      .select(col("event_type"),
        (col("sc").cast("double") / col("n").cast("double")).as("mean_cents"))
      .join(ci, "event_type")
      .orderBy("event_type")
  }

  /** Customer Pareto frontier (q212): the skyline of the customer base on
    * (lifetime cents, last order day, order count) — no other customer is
    * at least as good on all three axes and strictly better on one
    * ([[graft.operators.Skyline]]: partition-local block-nested-loop
    * skylines, then one merge pass over the polylog-sized candidate
    * union). Dims are exact longs; the oracle is the NOT EXISTS
    * dominance anti-join at the aggregated (customer) grain. */
  private def skylineQ(s: SparkSession, dir: String): DataFrame = {
    val cust = orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        sum(round(col("o_totalprice") * 100).cast("decimal(38,0)"))
          .cast("long").as("total_cents"),
        max(datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date")))
          .as("last_day"),
        count(lit(1)).as("n_orders"))
    graft.operators.Skyline.skylineMax(cust, "o_custkey",
        Seq("total_cents", "last_day", "n_orders"))
      .orderBy("o_custkey")
  }

  /** Token–language association screen (q213): the phi coefficient of
    * every (top-20 token, language) 2×2 presence table — the
    * feature/label-leakage audit a labeled corpus needs before training
    * on it. Counts are exact longs off one distinct (doc, token)
    * presence pass; phi's numerator/denominator are double products of
    * exact counts with PINNED association (identical expression both
    * engines), and the only non-arithmetic op is one IEEE sqrt —
    * correctly rounded everywhere, so the compare is bit-exact. */
  private def tokenPhiQ(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val pres = d.select(col("doc_id"), col("lang"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .select("doc_id", "token").distinct()
    val top = pres.groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token")).limit(20)
    val langs = d.groupBy("lang").agg(count(lit(1)).as("nl"))
    val total = d.agg(count(lit(1)).as("n"))
    val a = pres.join(broadcast(top.select("token")), "token")
      .join(d.select("doc_id", "lang"), "doc_id")
      .groupBy("token", "lang").agg(count(lit(1)).as("a"))
    val cells = broadcast(top).crossJoin(broadcast(langs)).crossJoin(broadcast(total))
      .join(a, Seq("token", "lang"), "left")
      .select(col("token"), col("lang"),
        coalesce(col("a"), lit(0L)).as("n_both"),
        (col("df") - coalesce(col("a"), lit(0L))).as("n_token_only"),
        (col("nl") - coalesce(col("a"), lit(0L))).as("n_lang_only"),
        (col("n") - col("df") - col("nl") + coalesce(col("a"), lit(0L)))
          .as("n_neither"))
    def D(c: Column) = c.cast("double")
    val denom =
      (D(col("n_both") + col("n_token_only")) * D(col("n_lang_only") + col("n_neither"))) *
      (D(col("n_both") + col("n_lang_only")) * D(col("n_token_only") + col("n_neither")))
    cells.withColumn("phi",
        when(denom > 0.0,
          (D(col("n_both")) * D(col("n_neither")) -
            D(col("n_token_only")) * D(col("n_lang_only"))) / sqrt(denom)))
      .orderBy("token", "lang")
  }

  /** Bipartite HITS (q214): hub/authority mutual reinforcement on the
    * order→part purchase graph, 8 rounds of the integer fixed-point
    * recurrence ([[graft.operators.Hits]] — the q120 idiom with max-abs
    * normalization); top-100 parts by authority. */
  private def hitsQ(s: SparkSession, dir: String): DataFrame = {
    val ed = lineitem(s, dir)
      .select(col("l_orderkey").as("h"), col("l_partkey").as("a"))
    val (_, auth) = graft.operators.Hits.integerHits(ed, "h", "a", iterations = 8)
    auth.select(col("node").as("part"), col("score").as("authority_fp"))
      .orderBy(col("authority_fp").desc, col("part"))
      .limit(100)
  }

  /** MMR diversified selection (q215): greedy maximal-marginal-relevance
    * pick of 10 exemplars from the 50 vectors most relevant to the query
    * vector (vec 0), balancing relevance against redundancy at λ = 7/10
    * ([[graft.operators.Mmr]] — exact integer dot-product objective,
    * bounded driver rounds; the corpus pass and pool top-k are the only
    * data-sized stages). */
  private def mmrQ(s: SparkSession, dir: String): DataFrame = {
    val qt = Similarity.quantizeInt8(embeddings(s, dir), "vec_id", "embedding")
    graft.operators.Mmr.mmrSelect(qt, "vec_id", queryId = 0L, k = 10,
        poolSize = 50, lambdaNum = 7L, lambdaDen = 10L)
      .withColumnRenamed("id", "vec_id")
      .orderBy("round")
  }

  /** Personalized PageRank (q216): random walk with restart over q120's
    * symmetrized part co-order graph, teleporting to the 5 smallest part
    * ids as the seed set — seed-anchored proximity instead of global
    * importance ([[graft.operators.PageRank.integerPersonalizedPageRank]],
    * the identical integer fixed-point recurrence with seed-gated
    * teleport); top-100 by score. */
  private def pprQ(s: SparkSession, dir: String): DataFrame = {
    val op = lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pairs = op.toDF("o", "pa").join(op.toDF("o", "pb"), "o")
      .where(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
    val ed = pairs.select(col("pa").as("s_"), col("pb").as("d_"))
      .unionByName(pairs.select(col("pb").as("s_"), col("pa").as("d_")))
    val seeds = ed.select(col("s_").as("node")).distinct()
      .orderBy("node").limit(5)
    graft.operators.PageRank.integerPersonalizedPageRank(
        ed, "s_", "d_", seeds, iterations = 10)
      .select(col("node").as("part"), col("score"))
      .orderBy(col("score").desc, col("part"))
      .limit(100)
  }

  /** Degree assortativity (q217): the Pearson correlation of endpoint
    * degrees over the directed edges of q120's co-order graph (Newman
    * 2002) — do popular parts co-occur with popular parts? Moments are
    * exact decimal integers off one edge pass; the coefficient is the
    * pinned-association double formula with two IEEE sqrts (the
    * q103/q202 moment posture). */
  private def assortativityQ(s: SparkSession, dir: String): DataFrame = {
    val op = lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pairs = op.toDF("o", "pa").join(op.toDF("o", "pb"), "o")
      .where(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
    val ed = pairs.select(col("pa").as("s_"), col("pb").as("d_"))
      .unionByName(pairs.select(col("pb").as("s_"), col("pa").as("d_")))
    val deg = ed.groupBy("s_").agg(count(lit(1)).as("deg"))
      .select(col("s_").as("node"), col("deg"))
    val ex = ed
      .join(deg.select(col("node").as("s_"), col("deg").as("dx")), "s_")
      .join(deg.select(col("node").as("d_"), col("deg").as("dy")), "d_")
    val d38 = "decimal(38,0)"
    val m = ex.agg(
      count(lit(1)).cast(d38).as("m"),
      sum(col("dx").cast(d38)).as("sx"),
      sum(col("dy").cast(d38)).as("sy"),
      sum((col("dx") * col("dy")).cast(d38)).as("sxy"),
      sum((col("dx") * col("dx")).cast(d38)).as("sxx"),
      sum((col("dy") * col("dy")).cast(d38)).as("syy"))
    m.crossJoin(broadcast(deg.agg(
        count(lit(1)).as("n_nodes"), max(col("deg")).as("max_deg"))))
      .select(
        col("n_nodes"), col("m").cast("long").as("m_edges"), col("max_deg"),
        ((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("assortativity"))
  }

  /** Single-linkage dendrogram profile (q219): Borůvka minimum spanning
    * forest over the part co-order graph (distance = −co-count, total
    * order (w, u, v)), then the cluster profile at every min-co-count
    * threshold read off the ONE forest — cutting MSF edges above τ yields
    * exactly the τ-threshold connected components, so the sweep costs a
    * filter + tiny-forest CC per threshold instead of a full re-cluster
    * ([[graft.operators.Mst]]). The oracle never builds the MSF: it runs
    * recursive-CTE reachability per threshold on the BASE graph — a
    * disjoint algorithm whose agreement IS the single-linkage property. */
  private def singleLinkageQ(s: SparkSession, dir: String): DataFrame = {
    val op = lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pairs = op.toDF("o", "pa").join(op.toDF("o", "pb"), "o")
      .where(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
      .localCheckpoint(false) // lazy: the MSF's first count job materializes
    val msf = graft.operators.Mst.boruvkaMsf(
      pairs.select(col("pa"), col("pb"), (-col("c")).as("w")), "pa", "pb", "w")
      .localCheckpoint(false)
    val nNodes = pairs
      .select(explode(array(col("pa"), col("pb"))).as("id")).distinct().count()
    // one tagged CC for every threshold (Mst.cutCensus)
    val ms = Seq(2L, 3L, 5L, 8L)
    val census = graft.operators.Mst.cutCensus(msf, ms.map(m => col("w") <= lit(-m)))
    import s.implicits._
    ms.zip(census).map { case (m, (kept, largest, clustered)) =>
      (m, nNodes - kept, clustered, largest)
    }.toDF("min_count", "n_clusters", "clustered_nodes", "largest_cluster")
      .orderBy("min_count")
  }

  /** Multi-source BFS layers (q220): hop distance from the 5 smallest
    * part ids over the co-order graph, 6 unrolled min-relaxation rounds
    * (the taint-radius / contamination-blast-radius probe; the q216
    * teleport set reused as BFS sources). Distances are small exact ints
    * with a 999999 not-reached sentinel — both engines replay the same
    * relaxation. */
  private def bfsLayersQ(s: SparkSession, dir: String): DataFrame = {
    val inf = 999999L
    val op = lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pairs = op.toDF("o", "pa").join(op.toDF("o", "pb"), "o")
      .where(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
    // r13: edge list pre-shuffled by s_ once (the checkpoint preserves the
    // hash partitioning — every relaxation round's join reuses it, guide
    // §2.4), and all checkpoints LAZY — the final layer-count aggregate is
    // the one action that executes the 6-round DAG, instead of 8 dedicated
    // materialization jobs; each round's plan is still cut at the
    // LogicalRDD so Catalyst never sees a 6-round mega-plan
    val ed = graft.Caching.track(
      pairs.select(col("pa").as("s_"), col("pb").as("d_"))
        .unionByName(pairs.select(col("pb").as("s_"), col("pa").as("d_")))
        .repartition(col("s_"))) // persist pins hashpartitioning — see PageRank
    val nodes = ed.select(col("s_").as("node")).distinct()
    val seeds = nodes.orderBy("node").limit(5)
      .withColumn("__seed", lit(true))
    var dist = nodes.join(seeds, Seq("node"), "left")
      .select(col("node"),
        when(coalesce(col("__seed"), lit(false)), lit(0L)).otherwise(lit(inf))
          .as("d"))
      .localCheckpoint(false)
    for (_ <- 1 to 6) {
      val relax = ed.join(dist.select(col("node").as("s_"), col("d")), "s_")
        .groupBy(col("d_").as("node")).agg(min(col("d") + lit(1L)).as("__nd"))
      dist = dist.join(relax, Seq("node"), "left")
        .select(col("node"),
          least(col("d"), coalesce(col("__nd"), lit(inf))).as("d"))
        .localCheckpoint(false)
    }
    dist.groupBy(col("d").as("hops")).agg(count(lit(1)).as("n_nodes"))
      .orderBy("hops")
  }

  /** Banded nearest-neighbor matching estimate (q221): each treated user
    * (odd user_id, the q199/q205 arm convention) matches the control user
    * with the nearest PRE-period spend inside the same 1024-cent band —
    * exact blocking + nearest-within-block, the scale-correct caliper
    * matching shape (a global nearest would sort the whole population on
    * one axis). The match itself is TWO as-of joins on the score axis
    * (backward + forward latest/earliest per band, [[graft.operators
    * .AsofJoin]] — one shuffle each, no pair explosion), picking the
    * nearer side (ties → backward; equal scores → the dedupe's
    * max-user_id row). Readout: matched-pair ATT on post-period spend in
    * exact cents. The oracle brute-forces the per-treated argmin with a
    * correlated subquery — disjoint formulation, same matching. */
  private def matchingAttQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"),
        graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val mm = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi")).collect()(0)
    val pivot = (mm.getLong(0) + mm.getLong(1) + 1L) / 2L
    val perUser = ev.groupBy(col("user_id"))
      .agg(sum(when(col("day") < pivot, col("cents")).otherwise(0L)).as("pre"),
        sum(when(col("day") >= pivot, col("cents")).otherwise(0L)).as("post"))
      .withColumn("band", shiftright(col("pre"), 10))
      .localCheckpoint()
    val treated = perUser.filter(pmod(col("user_id"), lit(2L)) === 1L)
    val controls = perUser.filter(pmod(col("user_id"), lit(2L)) === 0L)
      .select(col("band"), col("pre").as("cpre"),
        col("user_id").as("cuser"), col("post").as("cpost"))
    def leg(forward: Boolean, suffix: String) = {
      val f = if (forward) graft.operators.AsofJoin.asofForward _
              else graft.operators.AsofJoin.asofBackward _
      f(treated, controls, Seq("band"), "pre", "cpre",
          Seq("cuser", "cpre", "cpost"))
        .select(col("user_id"), col("pre"), col("post"),
          col("cuser").as(s"cu$suffix"), col("cpre").as(s"cp$suffix"),
          col("cpost").as(s"co$suffix"))
    }
    val both = leg(forward = false, "b").join(
      leg(forward = true, "f").select(col("user_id"),
        col("cuf"), col("cpf"), col("cof")), Seq("user_id"))
    val gapB = abs(col("pre") - col("cpb"))
    val gapF = abs(col("cpf") - col("pre"))
    val useB = col("cub").isNotNull &&
      (col("cuf").isNull || gapB <= gapF) // tie -> backward
    val matched = both.select(col("user_id"), col("pre"), col("post"),
      when(useB, col("cub")).otherwise(col("cuf")).as("cu"),
      when(useB, col("cpb")).otherwise(col("cpf")).as("cp"),
      when(useB, col("cob")).otherwise(col("cof")).as("co"))
    matched.agg(
        count(lit(1)).as("n_treated"),
        count(col("cu")).as("n_matched"),
        (sum(when(col("cu").isNotNull, col("post") - col("co")))
          .cast("double") / count(col("cu")).cast("double")).as("att_cents"),
        (sum(when(col("cu").isNotNull, col("pre") - col("cp")))
          .cast("double") / count(col("cu")).cast("double")).as("mean_pre_gap"))
  }

  /** Coarsened-exact-matching stratified treatment effect (q225) — the
    * stratification estimator (Iacus, King & Porro 2012) on q221's
    * design: same pre/post split and hash treatment assignment, but
    * instead of per-unit as-of matching, units are coarsened into
    * fixed-width pre-spend bands (shiftright = floor division, matching
    * DuckDB `//`) and every band retaining BOTH arms contributes its
    * exact within-band treated/control means. All sums and counts are
    * integer-exact (cents); the only floating-point ops are the two
    * per-band divisions and one subtraction — deterministic IEEE from
    * identical integers on both faces, so the oracle is bit-parity.
    * Scale shape: one shuffle to user grain, one map-side-combined
    * shuffle to the (bounded) band grain; no window, no matching join —
    * this is the estimator a 100 TB events table can actually afford
    * when q221's per-unit matching becomes the bottleneck. */
  private def stratifiedAteQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"),
        graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val mm = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi")).collect()(0)
    val pivot = (mm.getLong(0) + mm.getLong(1) + 1L) / 2L
    val perUser = ev.groupBy(col("user_id"))
      .agg(sum(when(col("day") < pivot, col("cents")).otherwise(0L)).as("pre"),
        sum(when(col("day") >= pivot, col("cents")).otherwise(0L)).as("post"))
      .withColumn("t", pmod(col("user_id"), lit(2L)))
      .withColumn("band", shiftright(col("pre"), 14))
    perUser.groupBy("band")
      .agg(
        sum(when(col("t") === 1L, 1L).otherwise(0L)).as("n_treated"),
        sum(when(col("t") === 0L, 1L).otherwise(0L)).as("n_control"),
        sum(when(col("t") === 1L, col("post")).otherwise(0L)).as("sum_treated"),
        sum(when(col("t") === 0L, col("post")).otherwise(0L)).as("sum_control"))
      .filter(col("n_treated") > 0 && col("n_control") > 0)
      .select(col("band"), col("n_treated"), col("n_control"),
        col("sum_treated"), col("sum_control"),
        (col("sum_treated").cast("double") / col("n_treated").cast("double")
          - col("sum_control").cast("double") / col("n_control").cast("double"))
          .as("att_cents"))
      .orderBy("band")
  }

  /** Kaplan–Meier risk table with right censoring (q226) — time from a
    * user's first event to first conversion ('purchase'), censored at
    * the corpus horizon for users who never convert (the classic
    * product-analytics survival design; Kaplan & Meier 1958). Emits the
    * KM SUFFICIENT STATISTIC — per duration: n_risk / n_event /
    * n_censor / hazard_ppm — entirely in exact integers (the survival
    * product itself is a trivial client-side fold over these rows; a
    * cross-engine bit-parity float product is not, so the table is the
    * honest contract). n_risk is a reverse cumulative over the
    * duration grid, whose domain is the corpus CALENDAR SPAN (day
    * grain, bounded ~hundreds) — the single-partition window is the
    * annotated bounded-domain pattern, not a corpus-sized sort. */
  private def kmRiskTableQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"),
      graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"),
      col("event_type"))
    val maxDay = ev.agg(max(col("day"))).collect()(0).getLong(0)
    val perUser = ev.groupBy("user_id").agg(
      min(col("day")).as("t0"),
      min(when(col("event_type") === "purchase", col("day"))).as("cv"))
    val durations = perUser.select(
      when(col("cv").isNotNull, col("cv") - col("t0"))
        .otherwise(lit(maxDay) - col("t0")).as("d"),
      when(col("cv").isNotNull, 1L).otherwise(0L).as("e"))
    val grid = durations.groupBy("d").agg(
      sum(col("e")).as("n_event"),
      sum(lit(1L) - col("e")).as("n_censor"))
    // duration grid ≤ corpus day span (bounded domain)
    val w = Window.partitionBy(lit(0)).orderBy(col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def floorDiv(x: Column, y: Column) = ((x - pmod(x, y)) / y).cast("long")
    grid.withColumn("n_risk", sum(col("n_event") + col("n_censor")).over(w))
      .select(col("d").as("duration_days"), col("n_risk"),
        col("n_event"), col("n_censor"),
        floorDiv(col("n_event") * lit(1000000L), col("n_risk"))
          .as("hazard_ppm"))
      .orderBy("duration_days")
  }

  /** Split-conformal interval coverage audit (q227) — distribution-free
    * uncertainty for an in-engine regressor (Vovk et al.; Lei et al.
    * 2018 split-conformal recipe). Model: q202's exact-moment OLS
    * (decimal(38,0) sums, the engine-validated double fit) predicting
    * whitespace tokens from char length; doc_id%4 splits train(0,1) /
    * calibration(2) / test(3). qhat is the k-th ORDER STATISTIC of
    * calibration residuals, k = ceil(0.9(n+1)) computed as the exact
    * integer (9(n+1)+9)//10 — never a float ceil. The selection runs
    * scale-safe: distinct-residual grain → 4096 monotone range slices →
    * bounded bucket-carry prefix sums (the KS kernel shape) → qhat =
    * min residual with cumulative count ≥ k; no corpus-sized sort.
    * Output is the coverage contract: test-half share inside ±qhat, in
    * exact ppm. Every float (slope/intercept/residuals/qhat) replays
    * identically in DuckDB from the same integer moments. */
  private def conformalCoverageQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val d38 = "decimal(38,0)"
    def floorDiv(x: Column, y: Column) = ((x - pmod(x, y)) / y).cast("long")
    val d = documents(s, dir).select(col("doc_id"),
      length(col("text")).cast("long").as("x"),
      TF.tokenCount(col("text")).as("y"))
    val m = d.filter(pmod(col("doc_id"), lit(4L)) < 2L).agg(
      count(lit(1)).cast(d38).as("n"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("y").cast(d38)).as("sy"),
      sum((col("x").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
        .cast(d38)).as("sxy"),
      sum((col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)"))
        .cast(d38)).as("sxx"))
    val fit = m.select(
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope"),
        col("sy"), col("sx"), col("n"))
      .select(col("slope"),
        ((col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept"),
        col("n").cast("long").as("n_train"))
    def resid(part: Long): DataFrame =
      d.filter(pmod(col("doc_id"), lit(4L)) === part).crossJoin(broadcast(fit))
        .withColumn("r", abs(col("y").cast("double")
          - (col("intercept") + col("slope") * col("x").cast("double"))))
    val cal = resid(2L)
    val mm = cal.agg(min(col("r")).as("mn"), max(col("r")).as("mx"),
      count(lit(1)).as("n_cal"))
    val grain = cal.groupBy("r").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(mm))
      .withColumn("bucket", when(col("mx") === col("mn"), lit(0L))
        .otherwise(least(floor((col("r") - col("mn"))
          / (col("mx") - col("mn")) * lit(4096.0)).cast("long"), lit(4095L))))
    // carry over ≤4096 buckets (bounded domain); within-bucket running
    // sum is partitioned by bucket over the distinct-residual grain
    val wCarry = Window.partitionBy(lit(0)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = grain.groupBy("bucket").agg(sum(col("c")).as("bc"))
      .withColumn("carry", coalesce(sum(col("bc")).over(wCarry), lit(0L)))
    val wIn = Window.partitionBy("bucket").orderBy(col("r"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val kExpr = floorDiv(lit(9L) * (col("n_cal") + lit(1L)) + lit(9L), lit(10L))
    val qhat = grain.join(carry.select("bucket", "carry"), "bucket")
      .withColumn("cum", col("carry") + sum(col("c")).over(wIn))
      .filter(col("cum") >= kExpr)
      .agg(min(col("r")).as("qhat"))
    val kRow = mm.select(col("n_cal"), kExpr.as("k"))
    resid(3L).crossJoin(broadcast(qhat)).crossJoin(broadcast(kRow))
      .groupBy("n_train", "n_cal", "k", "qhat", "slope", "intercept")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("qhat"), 1L).otherwise(0L)).as("n_covered"))
      .select(col("n_train"), col("n_cal"), col("k"), col("qhat"),
        col("n_test"), col("n_covered"),
        floorDiv(col("n_covered") * lit(1000000L), col("n_test"))
          .as("coverage_ppm"),
        col("slope"), col("intercept"))
  }

  /** CUSUM change-point detection over daily volumes (q228) — Page's
    * cumulative-sum chart (Page 1954) per event_type: baseline b =
    * pre-pivot mean daily count (integer floor), allowance a =
    * max(1, b/20), threshold h = max(1, b); the post-pivot recursion
    * S_t = max(0, S_{t-1} + x_t - b - a) runs as its PREFIX CLOSED FORM
    * S_t = P_t - min(0, min_{j<=t} P_j) (P = running sum of deviations)
    * — two stacked per-type windows, no sequential operator, no
    * flatMapGroups: the detector a 100 TB events table can run as plain
    * day-grain window algebra. Everything is exact integers, so the
    * DuckDB oracle replays the same two windows bit-for-bit. */
  private def cusumQ(s: SparkSession, dir: String): DataFrame = {
    def floorDiv(x: Column, y: Column) = ((x - pmod(x, y)) / y).cast("long")
    val ev = events(s, dir).select(col("event_type"),
      graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"))
    val mm = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi")).collect()(0)
    val pivot = (mm.getLong(0) + mm.getLong(1) + 1L) / 2L
    val daily = ev.groupBy("event_type", "day").agg(count(lit(1)).as("x"))
    val base = daily.filter(col("day") < pivot)
      .groupBy("event_type")
      .agg(floorDiv(sum(col("x")), count(lit(1))).as("b"))
      .withColumn("a", greatest(lit(1L), floorDiv(col("b"), lit(20L))))
      .withColumn("h", greatest(lit(1L), col("b")))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val post = daily.filter(col("day") >= pivot)
      .join(base, "event_type")
      .withColumn("p", sum(col("x") - col("b") - col("a")).over(w))
      .withColumn("s", col("p") - least(min(col("p")).over(w), lit(0L)))
    post.groupBy("event_type", "b", "a", "h")
      .agg(count(lit(1)).as("n_days"),
        max(col("s")).as("max_cusum"),
        min(when(col("s") > col("h"), col("day"))).as("alarm_day"),
        sum(when(col("s") > col("h"), 1L).otherwise(0L)).as("n_alarm_days"))
      .orderBy("event_type")
  }

  /** Density-aware clustering profile (q222) — the HDBSCAN core idea
    * (Campello, Moulavi & Sander 2013) on the repo's scale kernels:
    * same-IVF-bucket candidate edges (q67's assignment rule) carry exact
    * integer L2² distances (DotLong expansion d = x·x + y·y − 2x·y);
    * each point's CORE distance is its 4th-nearest candidate distance
    * (sentinel when under-connected); edges reweight to mutual
    * reachability max(d, core_a, core_b) — which is exactly what makes
    * single-linkage density-robust — and ONE Borůvka forest
    * ([[graft.operators.Mst]]) yields the cluster profile at the
    * p25/p50/p75 edge-weight thresholds (exact quantile kernel). The
    * oracle replays buckets/distances/cores/weights in SQL and derives
    * each threshold's components by recursive reachability — never
    * building the forest (the q219 disjoint-algorithm differential). */
  private def hdbscanProfileQ(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.GraftExtensions.dotLong
    val inf = 1000000000L
    val emb = embeddings(s, dir)
    val n = emb.count()
    val nlist = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
    val cents = Similarity.headCentroids(emb, "vec_id", "embedding", nlist)
    val qt = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .select(col("vec_id").as("id"),
        transform(col("qvec"), x => x.cast("long")).as("xv"))
    val assigned = emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
      .withColumn("bucket", Similarity.nearestCentroid(s, col("vec"), cents))
      .select("id", "bucket").join(qt, "id")
      .withColumn("sd", dotLong(s, col("xv"), col("xv")))
      .localCheckpoint()
    val pairs = assigned.select(col("bucket"), col("id").as("ia"),
        col("xv").as("xa"), col("sd").as("sa"))
      .join(assigned.select(col("bucket"), col("id").as("ib"),
        col("xv").as("xb"), col("sd").as("sb")), "bucket")
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        (col("sa") + col("sb") - lit(2L) * dotLong(s, col("xa"), col("xb")))
          .as("d"))
      .localCheckpoint()
    // core_4: 4th-smallest candidate distance per endpoint (both
    // orientations), sentinel for under-connected points
    val w4 = Window.partitionBy("id").orderBy(col("d"), col("other"))
    val cores = pairs.select(explode(array(
        struct(col("ia").as("id"), col("ib").as("other"), col("d")),
        struct(col("ib").as("id"), col("ia").as("other"), col("d")))).as("x"))
      .select(col("x.*"))
      .withColumn("__rn", row_number().over(w4))
      .filter(col("__rn") === 4)
      .select(col("id"), col("d").as("core"))
    def coreOf(idCol: String, out: String) =
      cores.select(col("id").as(idCol), col("core").as(out))
    val weighted = pairs
      .join(coreOf("ia", "ca"), Seq("ia"), "left")
      .join(coreOf("ib", "cb"), Seq("ib"), "left")
      .select(col("ia"), col("ib"),
        greatest(col("d"), coalesce(col("ca"), lit(inf)),
          coalesce(col("cb"), lit(inf))).as("w"))
      .localCheckpoint(false) // lazy: the MSF's first count job materializes
    val msf = graft.operators.Mst.boruvkaMsf(weighted, "ia", "ib", "w")
      .localCheckpoint(false)
    val taus = graft.operators.Profiling.exactQuantilesByKey(
        weighted.withColumn("__k", lit("w")), "__k", "w", Seq(0.25, 0.5, 0.75))
      .select(col("prob"), col("value")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    // one tagged CC for all three tau cuts (the q219 census)
    val census = graft.operators.Mst.cutCensus(msf,
      taus.toSeq.map { case (_, tau) => col("w").cast("double") <= lit(tau) })
    import s.implicits._
    taus.toSeq.zip(census).map { case ((p, tau), (kept, largest, clustered)) =>
      (p, tau, n - kept, clustered, largest)
    }
      .toDF("prob", "tau", "n_clusters", "clustered_nodes", "largest_cluster")
      .orderBy("prob")
  }

  /** Heaps-law vocabulary growth curve (q223): distinct-token count of
    * the corpus prefix at the p12.5/p25/p50/p100 doc_id quantile cuts —
    * ONE pass computes every token's FIRST document (min doc_id) and
    * every curve point is a count over that table, so the curve costs
    * one aggregation regardless of how many checkpoints it reports (the
    * naive per-checkpoint re-scan is k× the work). The vocabulary-growth
    * exponent is the corpus-health signal the bench's replica caveat is
    * about: a replicated corpus FLATTENS this curve where a real corpus
    * keeps growing it. */
  private def heapsCurveQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profiling
    val d = documents(s, dir)
    val tok = d.select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .localCheckpoint()
    val firstDoc = tok.groupBy("token").agg(min(col("doc_id")).as("first_doc"))
      .localCheckpoint()
    val taus = Profiling.exactQuantilesByKey(
        d.select(col("doc_id")).withColumn("__k", lit("d")), "__k", "doc_id",
        Seq(0.125, 0.25, 0.5, 1.0))
      .select(col("prob"), col("value")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    val curves = taus.map { case (p, tau) =>
      val nd = d.filter(col("doc_id").cast("double") <= tau)
        .agg(count(lit(1)).as("n_docs"))
      val vocab = firstDoc.filter(col("first_doc").cast("double") <= tau)
        .agg(count(lit(1)).as("vocab"))
      val occ = tok.filter(col("doc_id").cast("double") <= tau)
        .agg(count(lit(1)).as("occurrences"))
      nd.crossJoin(vocab).crossJoin(occ)
        .select(lit(p).as("prob"), col("n_docs"), col("vocab"),
          col("occurrences"),
          (col("vocab").cast("double") / col("occurrences").cast("double"))
            .as("type_token_ratio"))
    }
    curves.reduce(_ unionByName _).orderBy("prob")
  }

  /** Per-node clustering-coefficient distribution (q224): Watts–Strogatz
    * local clustering over the co-order graph, bucketed by the INTEGER
    * formula `min((20·T) div (d·(d−1)), 9)` — the coefficient never
    * exists as a float on the compare path, so no boundary ulp can flip
    * a bucket (the q173 lesson, applied at design time). Rides q115's
    * degree-oriented triangle kernel ([[graft.operators.Triangles]] —
    * each triangle counted once at its lowest-ordered vertex). */
  private def clusteringCoeffQ(s: SparkSession, dir: String): DataFrame = {
    val op = lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pairs = op.toDF("o", "pa").join(op.toDF("o", "pb"), "o")
      .where(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
    val nt = graft.operators.Triangles.nodeTriangles(
      pairs.select(col("pa"), col("pb")), "pa", "pb")
    nt.filter(col("degree") >= 2)
      .withColumn("bucket",
        least(expr("(20 * triangles) div (degree * (degree - 1))"), lit(9L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"), sum(col("triangles")).as("sum_triangles"))
      .orderBy("bucket")
  }

  /** Integer-exact Lloyd k-means (q218): 3 refinement rounds from the
    * 8 smallest-id seeds over the int8 grid, every centroid coordinate a
    * fixed-point integer so the trajectory replays bit-for-bit in any
    * engine ([[graft.operators.KMeans]] — one codegen'd broadcast-literal
    * assignment pass plus one 512-key map-side-combined sum per round);
    * cluster cardinality and mean squared distance as the readout. */
  private def kmeansQ(s: SparkSession, dir: String): DataFrame = {
    val qt = Similarity.quantizeInt8(embeddings(s, dir), "vec_id", "embedding")
    graft.operators.KMeans.integerLloyd(qt, "vec_id", k = 8, iterations = 3)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        (sum(col("dist2").cast("decimal(38,0)")).cast("double") /
          count(lit(1)).cast("double")).as("avg_dist2"))
      .orderBy("cid")
  }

  /** Cluster-quality silhouette audit (q203): per nearest-centroid
    * cluster (q17's assignment rule), the MEDIAN intra-centroid distance,
    * median distance to the best OTHER centroid, and median separation
    * margin — medians because arbitrary-double sums don't replay but the
    * exact selection kernel does ([[graft.operators.Profiling]]); all
    * distances in the double-path dot-product domain. */
  private def clusterSilhouetteQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profiling
    val emb = embeddings(s, dir)
    val cents = Similarity.headCentroids(emb, "vec_id", "embedding", 16)
    // (negated-cos, cid) structs sorted ascending: [0] = assigned centroid
    // (ties to the smaller cid — the q17 rule), [1] = best OTHER centroid;
    // 1.0 + nc is bit-identical to 1.0 - cos (negation is exact)
    val scoredArr = array_sort(array(cents.map { case (cid, cvec) =>
      struct(
        (-graft.plans.GraftExtensions.cosine(s, col("embedding"),
          typedLit(cvec))).as("nc"),
        lit(cid).as("i"))
    }: _*))
    val pp = emb.select(col("vec_id"), scoredArr.as("__s"))
      .select(col("vec_id"),
        col("__s").getItem(0).getField("i").as("cluster"),
        (lit(1.0) + col("__s").getItem(0).getField("nc")).as("intra"),
        (lit(1.0) + col("__s").getItem(1).getField("nc")).as("other"))
      .withColumn("margin", col("other") - col("intra"))
      .withColumn("k", col("cluster").cast("string"))
      .localCheckpoint()
    val mi = Profiling.exactMedianByKey(pp, "k", "intra")
      .withColumnRenamed("median", "med_intra")
    val mo = Profiling.exactMedianByKey(pp, "k", "other")
      .withColumnRenamed("median", "med_other")
    val mm = Profiling.exactMedianByKey(pp, "k", "margin")
      .withColumnRenamed("median", "med_margin")
    pp.groupBy(col("cluster"), col("k")).agg(count(lit(1)).as("n"))
      .join(mi, Seq("k")).join(mo, Seq("k")).join(mm, Seq("k"))
      .select(col("cluster"), col("n"), col("med_intra"), col("med_other"),
        col("med_margin"), (col("med_margin") > 0.0).as("healthy"))
      .orderBy("cluster")
  }

  /** Watermark planner (q204): the decision q170's lateness audit
    * informs, made explicit — for candidate allowed-lateness values (1,
    * 5, 30 min in µs), the records a streaming aggregation would
    * silently drop ([[graft.operators.Sweep.watermarkPlanner]]; same
    * two-level running-max kernel, no global sort). */
  private def watermarkPlannerQ(s: SparkSession, dir: String): DataFrame = {
    def us(c: Column): Column =
      floor(c.cast("decimal(20,0)") / lit(1000)).cast("long")
    graft.operators.Sweep.watermarkPlanner(
      events(s, dir).select(col("event_id"), us(col("ts")).as("t_us")),
      "event_id", "t_us", bucketWidth = 4096L,
      candidates = Seq(60000000L, 300000000L, 1800000000L))
      .orderBy("watermark")
  }

  /** Difference-in-differences readout (q205): pre/post × arm spend
    * means with the DiD estimate `(m11−m10)−(m01−m00)` — the
    * observational cousin of q178's CUPED (same exact-cents means, same
    * pivot; a one-row 2×2 of bit-replayable doubles). */
  private def didQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"),
      graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"),
      round(col("value") * 100).cast("long").as("cents"))
    val mm = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi")).collect()(0)
    val pivot = (mm.getLong(0) + mm.getLong(1) + 1L) / 2L
    val cells = ev
      .select(pmod(col("user_id"), lit(2L)).as("arm"),
        when(col("day") >= pivot, lit(1)).otherwise(lit(0)).as("period"),
        col("cents"))
      .groupBy("arm", "period")
      .agg(sum(col("cents").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("mean",
        col("s").cast("double") / col("n").cast("double") / lit(100.0))
    def cell(a: Int, p: Int) =
      max(when(col("arm") === a.toLong && col("period") === p, col("mean")))
    cells.agg(
      cell(0, 0).as("m00"), cell(0, 1).as("m01"),
      cell(1, 0).as("m10"), cell(1, 1).as("m11"))
      .withColumn("did",
        (col("m11") - col("m10")) - (col("m01") - col("m00")))
  }

  /** Seasonal-strength index (q206): per series, 1 − MAD(deseasonalized
    * residual)/MAD(raw) clipped at 0 — the MAD-robust, log-free
    * replayable cousin of STL seasonal strength; 1 ≈ the weekly rhythm
    * explains almost all robust variation, 0 ≈ none. Reuses q180's
    * residual chain verbatim ([[graft.operators.Seasonal]]) plus one raw
    * MAD pass. */
  private def seasonalStrengthQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profiling
    val daily = events(s, dir)
      .groupBy(col("event_type"),
        graft.operators.Funnel.epochDayFromNanos(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val seasonal = graft.operators.Seasonal.weeklyRobustAnomalies(
      daily, "event_type", "day", "n")
    val madResid = seasonal.select(col("series"), col("mad").as("mad_resid"))
      .distinct()
    val medRaw = Profiling.exactMedianByKey(
      daily.withColumnRenamed("event_type", "series"), "series", "n")
      .withColumnRenamed("median", "med_raw")
    val absdev = daily.withColumnRenamed("event_type", "series")
      .join(medRaw, Seq("series"))
      .withColumn("absdev_raw", abs(col("n") - col("med_raw")))
    val madRaw = Profiling.exactMedianByKey(absdev, "series", "absdev_raw")
      .withColumnRenamed("median", "mad_raw")
    madRaw.join(madResid, Seq("series"))
      .select(col("series").as("event_type"), col("mad_raw"), col("mad_resid"),
        when(col("mad_raw") > 0.0,
          greatest(lit(0.0), lit(1.0) - col("mad_resid") / col("mad_raw")))
          .as("strength"))
      .orderBy("event_type")
  }

  /** IVF-PQ recall (q132): q17's cell routing composed with q130's PQ
    * codes — the full billion-scale ANN layout; a query ADC-scans only
    * the codes in its 4 probed cells of 16, and the recall quantifies
    * both approximations together ([[Similarity.ivfPqRecall]]). */
  private def ivfPqRecallQ(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    Similarity.ivfPqRecall(
      emb, emb.filter(col("vec_id") < 10),
      ivfCentroids = Similarity.headCentroids(emb, "vec_id", "embedding", 16),
      pqCentroids = emb.filter(col("vec_id") < 16),
      "vec_id", "embedding",
      m = 8, dim = 64, codebookSize = 16, nprobe = 4, k = 5)
      .orderBy("query_id")
  }

  /** kNN-graph clustering (q133): q171's IVF mutual-kNN edges fused by q47's
    * connected components — embedding-space document grouping
    * (the SemDeDup-adjacent cluster assignment, but from reciprocal
    * neighbor structure instead of centroid cells); every vector reports
    * with its component min-id and keeper flag, singletons self-labeled.
    * The reciprocal-k graph is chainy (diameter > 20 at sf0.1); CC's
    * parent shortcut crosses such chains in few rounds, and CC reads the
    * edges once ([[Dedup.connectedComponents]]). */
  private def knnClustersQ(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    // IVF candidate edges (q171's sub-quadratic stage): kNN-graph
    // construction at scale is ANN-candidate-based by definition — the
    // exact-kNN edge rule stays spec-pinned via mutualTopK and q131.
    // CC reads the edges once, yet materializing the IVF edge plan in its
    // own job first measured faster (sf0.1, 4 cores, 7 fresh-JVM pairs:
    // 6.05 s median with the checkpoint, 6.57 s without)
    val edges = ivfMutualEdges(s, dir).select("id_a", "id_b").localCheckpoint()
    val comp = Dedup.connectedComponents(edges)
    emb.select(col("vec_id").as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"),
        (coalesce(col("component"), col("id")) === col("id")).as("is_keeper"))
      .orderBy("id")
  }

  /** Per-source lexical-diversity profile (q134): tokens, types, hapax
    * legomena, TTR and hapax share per document source — the Heaps-law
    * boilerplate signature ([[graft.operators.Quality.lexicalProfile]]);
    * two chained map-side-combined aggregates, no joins. */
  private def lexicalProfileQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.lexicalProfile(documents(s, dir), "source", "text")
      .withColumnRenamed("grp", "source")
      .orderBy("source")

  /** Session attribution (q135): first-touch / last-touch credit for
    * every purchase under q54's 6-hour gap sessions, ordering tightened
    * to (ts, event_id) ([[graft.operators.Funnel.sessionAttribution]]);
    * pure windows over one user-key partition. */
  private def attributionQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).withColumn("tus",
      floor(col("ts").cast("decimal(20,0)") / lit(1000)).cast("long"))
    graft.operators.Funnel.sessionAttribution(
      ev, "user_id", "event_id", "tus", "event_type",
      gapUs = 21600000000L, convCond = col("event_type") === "purchase")
      .orderBy("user_id", "conv_ts_us", "conv_event_id")
  }

  /** Cross-source duplication matrix (q136): q18's near-dup candidate
    * pairs labeled with each side's source and rolled to the
    * (source, source) grain — the corpus-governance view that says which
    * feeds copy from each other (cross-source mass) vs self-duplicate
    * (diagonal); feeds the q118 group-split leakage argument. The matrix
    * is source²-bounded; the pair labeling is two doc-id joins. */
  private def dupMatrixQ(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val src = docs.select(col("doc_id"), col("source"))
    Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
      .select("id_a", "id_b")
      .join(src.toDF("id_a", "src_a"), "id_a")
      .join(src.toDF("id_b", "src_b"), "id_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("source_a") =!= col("source_b"))
      .orderBy("source_a", "source_b")
  }

  /** Temperature-scaled domain mix (q137): q63's budgeted rebalancing
    * with τ=0.5 source shares — weight ∝ isqrt(source tokens), the
    * multilingual anti-starvation mix, all arithmetic integer (isqrt
    * replayed by the oracle via corrected floor(sqrt))
    * ([[graft.operators.Mixing.mixTemperatureSqrt]]). */
  private def temperatureMixQ(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"), col("source"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val budget = d.agg(sum(col("n_tokens"))).collect()(0).getLong(0) / 2L
    graft.operators.Mixing.mixTemperatureSqrt(
        d, "doc_id", "source", "n_tokens", budget)
      .groupBy("source", "weight_ppm", "rate_ppm")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy("source")
  }

  /** Semantic decontamination (q138): q59's companion for paraphrased
    * eval leakage — corpus vectors within quantized-cosine 0.3 of any
    * test vector (vec_id < 15 as the held-out set; the synthetic
    * embeddings are near-orthogonal, so 0.3 plays the role 0.9+ does on
    * trained embeddings), the θ² = 9/100 predicate entirely in exact
    * integer int8 dot products
    * ([[graft.operators.Decontamination.semanticContamination]]). */
  private def semanticDeconQ(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    graft.operators.Decontamination.semanticContamination(
        e.filter(col("vec_id") >= 15), e.filter(col("vec_id") < 15),
        "vec_id", "embedding", thrNum = 9L, thrDen = 100L)
      .orderBy("vec_id")
  }

  /** Label propagation (q139): q171's IVF mutual-kNN edges carrying seed
    * labels (vec_id % 4 == 0 keeps its `label`) to unlabeled vectors in
    * two synchronous majority rounds, ties to the smaller label —
    * semi-supervised corpus labeling ([[graft.operators.LabelProp]]).
    * The edge graph is localCheckpointed: both rounds reuse it
    * (q133's posture). */
  private def labelPropQ(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val edges = ivfMutualEdges(s, dir).select("id_a", "id_b").localCheckpoint()
    val nodes = e.select(col("vec_id"),
      when(pmod(col("vec_id"), lit(4L)) === 0L, col("label").cast("long"))
        .as("seed"))
    graft.operators.LabelProp.propagate(
        nodes, edges, "vec_id", "seed", "id_a", "id_b", rounds = 2)
      .orderBy("vec_id")
  }

  /** Total-variation drift by source (q140): each source's doc-length
    * histogram vs the pooled corpus over exact global deciles, distance
    * in integer ppm — the PSI-style governance screen without PSI's
    * engine-specific `ln` ([[graft.operators.Drift.tvDriftBySource]]). */
  private def tvDriftQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.tvDriftBySource(
      documents(s, dir).select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars")),
      "doc_id", "source", "n_chars", nBins = 10)
      .orderBy("source")

  /** N-gram novelty per epoch (q141): fraction of each epoch's distinct
    * 3-grams first seen in that epoch (epoch = doc_id mod 8 stands in for
    * the crawl snapshot) — the freshness audit that catches recycled
    * crawls ([[graft.operators.Drift.ngramNovelty]]). */
  private def ngramNoveltyQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.ngramNovelty(
      documents(s, dir).select(
        pmod(col("doc_id"), lit(8L)).as("epoch_src"), col("text")),
      "epoch_src", "text", n = 3)
      .orderBy("epoch")

  /** Dedup ROI (q142): what q47's dedup decision is WORTH — per source,
    * the token mass sitting on non-keeper docs (component ≠ doc id under
    * connected components over the q18 LSH pair graph) and the floor-ppm
    * savings a keep-one-per-component pass would realize. The governance number
    * that justifies (or kills) a dedup stage before anyone runs it. */
  private def dedupRoiQ(s: SparkSession, dir: String): DataFrame = {
    def floorDiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      ((a - pmod(a, b)) / b).cast("long")
    val docs = documents(s, dir)
    val comp = Dedup.connectedComponents(graft.Caching.track(
      Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)))
    docs.select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("__t"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("__comp", coalesce(col("component"), col("doc_id")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__t")).as("n_tokens"),
        sum(when(col("__comp") =!= col("doc_id"), col("__t")).otherwise(0L))
          .as("dup_tokens"))
      .withColumn("savings_ppm",
        floorDiv(col("dup_tokens") * 1000000L, greatest(col("n_tokens"), lit(1L))))
      .orderBy("source")
  }

  /** Packing-efficiency audit (q143): padding overhead of a no-packing
    * loader at context lengths 128/512/2048 vs the fully-packed ideal —
    * the capacity-planning pass run before q50's greedy packing
    * ([[graft.operators.Batching.packingEfficiency]]). */
  private def packingEfficiencyQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Batching.packingEfficiency(
      documents(s, dir).select(
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok")),
      "n_tok", Seq(128L, 512L, 2048L))
      .orderBy("ctx")

  /** Shuffle-key skew audit (q144): the pre-flight for hashing events on
    * user_id — heaviest-key share, top-10 mass, mean rows/key, all exact
    * integer ppm ([[graft.operators.Profiling.keySkewAudit]]). */
  private def skewAuditQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.keySkewAudit(events(s, dir), "user_id")

  /** Simpson token concentration (q145): per-source probability two
    * sampled tokens are the same type — boilerplate detection without
    * entropy's `ln`; decimal(38,0) ppm so the statistic survives
    * 100 TB-group token counts
    * ([[graft.operators.Quality.simpsonConcentration]]). */
  private def simpsonQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.simpsonConcentration(
      documents(s, dir), "source", "text")
      .withColumnRenamed("grp", "source")
      .orderBy("source")

  /** Shard-growth stability (q147): fraction of doc ids that migrate when
    * shards grow 8 → 9 under mod-hashing (~8/9 move) vs rendezvous
    * hashing (~1/9 move) — the consistent-hashing ROI measured on the
    * corpus itself ([[graft.operators.Sharding.shardStability]]). */
  private def shardStabilityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sharding.shardStability(
      documents(s, dir).select("doc_id"), "doc_id", k = 8, k2 = 9)
      .orderBy("strategy")

  /** Persistent heavy hitters (q148): users in the exact daily top-20 on
    * at least 3 days — the stability screen separating structurally hot
    * shuffle keys from one-off bursts
    * ([[graft.operators.HeavyHitters.persistentHitters]]); day is the
    * integer epoch-day of the canonical ns timestamp (q91's grid). */
  private def persistentHittersQ(s: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400000000000L
    val day = ((col("ts") - pmod(col("ts"), lit(nsPerDay))) / lit(nsPerDay))
      .cast("long")
    graft.operators.HeavyHitters.persistentHitters(
      events(s, dir).select(day.as("day"), col("user_id")),
      "day", "user_id", k = 20, minEpochs = 3)
      .orderBy("key")
  }

  /** Source vocabulary Jaccard (q149): exact pairwise word-set overlap
    * between sources — the vocabulary-level companion to q136's
    * document-level dup matrix
    * ([[graft.operators.Drift.sourceVocabJaccard]]). */
  private def sourceJaccardQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.sourceVocabJaccard(
      documents(s, dir), "source", "text")
      .orderBy("source_a", "source_b")

  /** Doc-length Gini (q150): inequality of token mass over documents per
    * source — closed-form exact Gini on the distinct-value grain in
    * decimal(38,0) ([[graft.operators.Profiling.giniByKey]]); near-0 =
    * uniform lengths (template suspicion), near-1e6 = a few giants carry
    * the source. */
  private def lengthGiniQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.giniByKey(
      documents(s, dir).select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok")),
      "source", "n_tok")
      .orderBy("source")

  /** Winnowing fingerprint density (q151): Schleimer et al. robust
    * winnowing at k=4, w=4 over the corpus, rolled to per-source gram /
    * fingerprint mass — the empirical check of the 2/(w+1) sampling rate
    * ([[graft.operators.Winnowing.densityByGroup]]). */
  private def winnowDensityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Winnowing.densityByGroup(
      documents(s, dir), "doc_id", "source", "text", k = 4, w = 4)
      .withColumnRenamed("grp", "source")
      .orderBy("source")

  /** Winnow dup candidates (q152): doc pairs sharing ≥ 2 winnow
    * fingerprints, with containment against the smaller fingerprint set —
    * the MOSS screen ([[graft.operators.Winnowing.dupCandidates]]). */
  private def winnowPairsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Winnowing.dupCandidates(
      documents(s, dir), "doc_id", "text", k = 4, w = 4, minShared = 2)
      .orderBy("doc_a", "doc_b")

  /** Quality-gate agreement (q153): Cohen's kappa per source between the
    * row-local Gopher gate (q89) and the corpus-relative curation gate
    * (q76) — how far the cheap gate can proxy the expensive one once
    * base-rate agreement is discounted
    * ([[graft.operators.Agreement.cohenKappa]]). */
  private def gateKappaQ(s: SparkSession, dir: String): DataFrame = {
    val gop = graft.operators.Quality.gopherRules(documents(s, dir), "text")
      .select(col("doc_id"), col("pass").as("gopher_pass"))
    val cur = curationVerdicts(s, dir).select(col("doc_id"), col("keep"))
    val j = documents(s, dir).select(col("doc_id"), col("source"))
      .join(gop, "doc_id").join(cur, "doc_id")
    graft.operators.Agreement.cohenKappa(j, "source", "gopher_pass", "keep")
      .orderBy("source")
  }

  /** Length-AUC gate audit (q154): exact tie-corrected ROC-AUC of raw
    * document length predicting the q76 curation verdict, per source —
    * an AUC near 1e6 says the composed gate is mostly a length proxy
    * there ([[graft.operators.Profiling.rankSumAuc]]). */
  private def lengthAucQ(s: SparkSession, dir: String): DataFrame = {
    val j = documents(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      .join(curationVerdicts(s, dir).select(col("doc_id"), col("keep")), "doc_id")
    graft.operators.Profiling.rankSumAuc(j, "source", "n_chars", "keep")
      .orderBy("source")
  }

  /** KS drift (q155): exact two-sample Kolmogorov-Smirnov distance of
    * each source's token-length distribution vs the pooled corpus — the
    * bin-free companion to q140's decile TV
    * ([[graft.operators.Drift.ksAgainstPool]]). */
  private def ksDriftQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.ksAgainstPool(
      documents(s, dir).select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok")),
      "source", "n_tok")
      .orderBy("source")

  /** Spearman rank correlation (q156): quantity↔price monotone
    * co-movement per return flag — q103's Pearson re-run on midranks,
    * the outlier-robust association number
    * ([[graft.operators.Rollups.spearmanByKey]]). */
  private def spearmanQ(s: SparkSession, dir: String): DataFrame =
    Rollups.spearmanByKey(
      lineitem(s, dir).select(col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("qx"),
        round(col("l_extendedprice") * 100).cast("long").as("qy")),
      "l_returnflag", "qx", "qy")
      .orderBy("l_returnflag")

  /** Benford audit (q157): leading-digit law deviation of order totals
    * per priority — the synthetic/fabricated-numerics screen, exact
    * integer ppm against fixed floor-ppm Benford expectations
    * ([[graft.operators.Profiling.benfordAudit]]). */
  private def benfordQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.benfordAudit(
      orders(s, dir).select(col("o_orderpriority").as("pri"),
        col("o_totalprice").as("v")),
      "pri", "v")
      .orderBy("pri", "digit")

  /** Peak concurrent sessions per day (q158): q54's 6-hour-gap session
    * intervals swept with the two-level prefix sum
    * ([[graft.operators.Sweep.maxConcurrency]]) — the capacity-planning
    * number, exact at every boundary instant. */
  private def maxConcurrencyQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), eventTs(col("ts")).as("t"))
    val sess = ev
      .groupBy(col("user_id"), session_window(col("t"), "6 hours").as("w"))
      .agg(unix_micros(min(col("t"))).as("s_us"),
        unix_micros(max(col("t"))).as("e_us"))
    graft.operators.Sweep.maxConcurrency(sess, "s_us", "e_us",
        bucketWidth = 86400000000L)
      .withColumnRenamed("bucket", "day")
      .orderBy("day")
  }

  /** Hilbert-vs-Morton locality audit (q160): both curves index the same
    * distinct (suppkey, partkey) cell grid at 16 bits/dim; the score is
    * the total Manhattan distance between INDEX-CONSECUTIVE cells (the
    * walk a range scan takes through key space), summed within index
    * buckets so the comparison windows stay bucket-partitioned —
    * cross-bucket steps (1 per bucket) are uncounted on both sides
    * ([[graft.operators.Layout.withHilbert2]] vs
    * [[graft.operators.Layout.zValue2]]). Morton pays its quadrant jumps
    * here; Hilbert's consecutive indices are grid-adjacent by
    * construction, so its walk is near-minimal. A bbox-area score would
    * NOT discriminate — at dyadic bucket sizes both curves tile the same
    * rectangles; the jump metric is the one that sees Morton's seams. */
  private def hilbertLocalityQ(s: SparkSession, dir: String): DataFrame = {
    // keys fold into the 2^16 grid (pmod) — raw key domains are unbounded
    // at scale (the 10x replica's shifted partkeys overflow 16 bits; a
    // real catalog would too), and a layout audit only needs the bounded
    // cell grid, not key identity. Identity at sf<=0.1 (keys < 2^16), so
    // the oracle grain is unchanged.
    val cells = lineitem(s, dir)
      .select(pmod(col("l_suppkey"), lit(65536L)).as("cx"),
        pmod(col("l_partkey"), lit(65536L)).as("cy")).distinct()
    val z = cells
      .withColumn("idx", graft.operators.Layout.zValue2(col("cx"), col("cy"), bits = 16))
      .withColumn("strategy", lit("zorder"))
    val h = graft.operators.Layout.withHilbert2(cells, "cx", "cy", bits = 16, "idx")
      .withColumn("strategy", lit("hilbert"))
    val w = Window.partitionBy(col("strategy"), col("bucket")).orderBy(col("idx"))
    z.unionByName(h)
      .withColumn("bucket", shiftright(col("idx"), 14))
      .withColumn("__px", lag(col("cx"), 1).over(w))
      .withColumn("__py", lag(col("cy"), 1).over(w))
      .withColumn("__jump",
        when(col("__px").isNull, lit(0L))
          .otherwise(abs(col("cx") - col("__px")) + abs(col("cy") - col("__py"))))
      .groupBy(col("strategy"))
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("__px").isNull, 0L).otherwise(1L)).as("n_steps"),
        sum(col("__jump")).as("total_jump"))
      .orderBy("strategy")
  }

  /** Gate calibration table (q161): keep-rate of the q76 curation verdict
    * per global length decile per source — the reliability diagram behind
    * q154's single-number AUC (which deciles carry the gate's decisions,
    * and do sources disagree at fixed length?). Deciles via
    * [[graft.operators.Batching.groupedNtile]] (distinct-grain, engine
    * ntile semantics). */
  private def gateCalibrationQ(s: SparkSession, dir: String): DataFrame = {
    def floorDiv(a: Column, b: Column) = ((a - pmod(a, b)) / b).cast("long")
    val d = documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"))
      .withColumn("__k", lit(1))
    val tiled = graft.operators.Batching.groupedNtile(
      d, keyCols = Seq("__k"), valCol = "n_chars", idCol = "doc_id",
      n = 10, outCol = "decile")
    tiled
      .join(curationVerdicts(s, dir).select(col("doc_id"), col("keep")), "doc_id")
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("keep_ppm",
        floorDiv(col("n_keep") * lit(1000000L), col("n_docs")))
      .orderBy("source", "decile")
  }

  /** LSH precision — candidate-verify (q162): every q18 minhash candidate
    * pair re-scored by EXACT distinct-2-shingle Jaccard (integer
    * cross-multiplication, floor ppm) with a τ=0.5 verified flag — the
    * precision companion to q128's recall ablation: recall says what the
    * bands miss, this says what they drag in. Verification work is
    * bounded by |candidates| × shingles/doc (the banding + maxBucket
    * screen paid for that bound already); zero-overlap candidates (band
    * collisions) survive via the left join. */
  /** Exact distinct-2-shingle Jaccard for a given (id_a, id_b) pair table
    * (shared by q162/q169): (id_a, id_b, n_inter, n_union, jaccard_ppm).
    * Work is |pairs| × shingles/doc; zero-overlap pairs survive via the
    * left join. */
  private def exactPairJaccard(docs: DataFrame, pairs: DataFrame): DataFrame = {
    def floorDiv(a: Column, b: Column) = ((a - pmod(a, b)) / b).cast("long")
    val toks = split(trim(lower(col("text"))), "\\s+")
    val sh = docs.select(col("doc_id"), toks.as("__t"))
      .select(col("doc_id"),
        explode(sequence(lit(1), greatest(size(col("__t")) - 1, lit(1)))).as("__p"),
        col("__t"))
      .select(col("doc_id"),
        array_join(slice(col("__t"), col("__p"), lit(2)), " ").as("sh"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.toDF("id_a", "__sha"), "id_a")
      .join(sh.toDF("__ib", "__shb"),
        col("id_b") === col("__ib") && col("__sha") === col("__shb"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.toDF("id_a", "__na"), "id_a")
      .join(sizes.toDF("id_b", "__nb"), "id_b")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("n_union", col("__na") + col("__nb") - col("n_inter"))
      .withColumn("jaccard_ppm",
        floorDiv(col("n_inter") * lit(1000000L), col("n_union")))
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"),
        col("jaccard_ppm"))
  }

  private def lshPrecisionQ(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
      .select("id_a", "id_b")
    exactPairJaccard(docs, pairs)
      .withColumn("verified", col("jaccard_ppm") >= 500000L)
      .orderBy("id_a", "id_b")
  }

  /** Minhash-estimate calibration (q169): candidate pairs binned by the
    * number of agreeing signature components (the engine's Jaccard
    * ESTIMATE, est/32) against the floor-mean of the exact shingle
    * Jaccard in each bin — the trust table for every minhash-based
    * decision upstream (is 24/32 really ≈ 0.75?). */
  private def minhashCalibrationQ(s: SparkSession, dir: String): DataFrame = {
    def floorDiv(a: Column, b: Column) = ((a - pmod(a, b)) / b).cast("long")
    val docs = documents(s, dir)
    val sigs = Dedup.minhashSigs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 32, portable = true)
    val pairs = Dedup.minhashCandidatePairsFromSigs(
        sigs, numHashes = 32, rowsPerBand = 8, maxBucket = 1000, portable = true)
      .select("id_a", "id_b")
    val est = pairs
      .join(sigs.toDF("id_a", "__sa"), "id_a")
      .join(sigs.toDF("id_b", "__sb"), "id_b")
      .withColumn("est_matches",
        aggregate(
          zip_with(col("__sa"), col("__sb"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v))
      .select("id_a", "id_b", "est_matches")
    est.join(exactPairJaccard(docs, pairs), Seq("id_a", "id_b"))
      .groupBy(col("est_matches"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("jaccard_ppm")).as("__sum_true"))
      .select(col("est_matches"),
        floorDiv(col("est_matches") * lit(1000000L), lit(32L)).as("est_ppm"),
        col("n_pairs"),
        floorDiv(col("__sum_true"), col("n_pairs")).as("avg_true_ppm"))
      .orderBy("est_matches")
  }

  /** Quality-aware dedup keeper (q163): q47's connected components with
    * the canonical document chosen by MAX token mass (ties → smaller id)
    * instead of min-id — the arbitration a curation pipeline actually
    * wants (keep the richest copy); one max-struct aggregate per
    * component, token mass re-priced per cluster. */
  private def qualityKeeperQ(s: SparkSession, dir: String): DataFrame = {
    val comp = Dedup.connectedComponents(
      graft.Caching.track(
        Dedup.minhashCandidatePairs(documents(s, dir), "doc_id", "text",
          shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)))
    val toksz = documents(s, dir).select(col("doc_id").as("id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    comp.join(toksz, "id")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col("n_tok"), (-col("id")).as("nid"))).as("__best"),
        sum(col("n_tok")).as("total_toks"))
      .select(col("component"), col("n_docs"),
        (-col("__best.nid")).as("keeper_doc"),
        col("__best.n_tok").as("keeper_toks"),
        col("total_toks"),
        (col("total_toks") - col("__best.n_tok")).as("saved_toks"))
      .orderBy("component")
  }

  /** Percentile normalization (q164): each document's length mapped to
    * its midrank percentile WITHIN its source (floor ppm) — the
    * cross-source-comparable score a fair gate thresholds on
    * ([[graft.operators.Profiling.percentileNormalize]]). */
  private def percentileNormalizeQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.percentileNormalize(
      documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
      "source", "n_chars", "doc_id")
      .orderBy("doc_id")

  /** Zipf vocabulary segmentation (q165): head/middle/tail split of the
    * corpus vocabulary at 50%/90% cumulative token mass, computed on the
    * frequency-of-frequency grain
    * ([[graft.operators.Quality.zipfSegments]]) — the vocab-cap sizing
    * view (what a cutoff keeps vs drops). */
  private def zipfSegmentsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.zipfSegments(documents(s, dir), "text")
      .orderBy("segment")

  /** Item-item cosine (q166): part-grain co-order similarity — the
    * neighborhood recommender kernel as exact squared-cosine ppm
    * ([[graft.operators.Itemsets.itemCosine]]); top-50 pairs by
    * (cos², a, b) total order. */
  private def itemCosineQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Itemsets.itemCosine(
      lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", minSupport = 3L)
      .orderBy(col("cos2_ppm").desc, col("item_a"), col("item_b"))
      .limit(50)

  /** Repurchase survival curve (q167): per purchase-to-purchase gap, the
    * share landing within 1/7/14/30 days — the retention-horizon number
    * behind q91's day-grid retention; gaps from a (user, ts, event_id)
    * total-ordered lag, one pass, unpivoted by `stack`. */
  private def repurchaseCurveQ(s: SparkSession, dir: String): DataFrame = {
    def us(c: Column): Column =
      floor(c.cast("decimal(20,0)") / lit(1000)).cast("long")
    val day = 86400000000L
    val p = events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), us(col("ts")).as("t"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val gaps = p.withColumn("__gap", col("t") - lag(col("t"), 1).over(w))
      .filter(col("__gap").isNotNull)
    def cWithin(k: Int) =
      sum(when(col("__gap") <= k * day, 1L).otherwise(0L)).as(s"c$k")
    val a = gaps.agg(count(lit(1)).as("n"),
      cWithin(1), cWithin(7), cWithin(14), cWithin(30))
    def floorDiv(x: Column, y: Column) = ((x - pmod(x, y)) / y).cast("long")
    a.select(expr(
        "stack(4, 1L, c1, 7L, c7, 14L, c14, 30L, c30) AS (k_days, n_within)"),
        col("n"))
      .select(col("k_days"), col("n").as("n_gaps"), col("n_within"),
        floorDiv(col("n_within") * lit(1000000L), col("n")).as("within_ppm"))
      .orderBy("k_days")
  }

  /** Two-sample KS (q168): token-length drift between the first and
    * second corpus halves (doc_id % 8 split) — the frozen-baseline drift
    * gate's kernel ([[graft.operators.Drift.ksTwoSample]]; streaming
    * face: [[graft.streaming.DriftStream]]). */
  private def ksTwoSampleQ(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    graft.operators.Drift.ksTwoSample(
      d.filter(pmod(col("doc_id"), lit(8L)) < 4).select("n_tok"),
      d.filter(pmod(col("doc_id"), lit(8L)) >= 4).select("n_tok"),
      "n_tok")
  }

  /** Event lateness audit (q170): per 4096-arrival bucket, how far behind
    * the running max event-time records arrive (>5 min counted late) —
    * the watermark-sizing number for every streaming job in the engine
    * ([[graft.operators.Sweep.latenessAudit]]; arrival proxy =
    * ingestion-monotone event_id). */
  private def latenessAuditQ(s: SparkSession, dir: String): DataFrame = {
    def us(c: Column): Column =
      floor(c.cast("decimal(20,0)") / lit(1000)).cast("long")
    graft.operators.Sweep.latenessAudit(
      events(s, dir).select(col("event_id"), us(col("ts")).as("t_us")),
      "event_id", "t_us", bucketWidth = 4096L, lateThreshold = 300000000L)
      .orderBy("bucket")
  }

  /** Salted skew-join equivalence (q159): lineitem × part revenue per
    * brand through [[graft.operators.SaltedJoin.saltedEquiJoin]] (8
    * deterministic salts, forced shuffle join) — row-identical to the
    * plain join the oracle runs, while the heaviest part key's rows
    * spread over 8 tasks instead of one. */
  private def saltedJoinQ(s: SparkSession, dir: String): DataFrame = {
    val big = lineitem(s, dir).select(col("l_partkey").as("pk"),
      col("l_orderkey"), col("l_linenumber"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val small = part(s, dir).select(col("p_partkey").as("pk"), col("p_brand"))
    graft.operators.SaltedJoin.saltedEquiJoin(
        big, small, "pk", saltBy = Seq("l_orderkey", "l_linenumber"), nSalts = 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("revenue_cents"))
      .orderBy("p_brand")
  }

  /** Rank-biased overlap (q146): rank-aware agreement of the int8
    * quantized top-5 (q48) with the exact cosine top-5 (q16) per probe —
    * p=1/2 truncated RBO in exact scaled integers
    * ([[graft.operators.Similarity.rboTruncated]]). */
  private def rboQ(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val exact = Similarity.bruteForceTopK(
      e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    val qt = Similarity.quantizeInt8(e, "vec_id", "embedding")
    val quant = Similarity.bruteForceTopKQuantized(
      qt, qt.filter(col("vec_id") < 10), "vec_id", 5)
    Similarity.rboTruncated(exact, quant, depth = 5).orderBy("query_id")
  }

  /** Skip-gram co-occurrence mining (q121): q117's windowed
    * generalization — unordered token pairs within 3 positions, corpus
    * support >= 5, ranked by the same IEEE-exact lift
    * ([[graft.operators.TextSearch.skipgramByLift]]). */
  private def skipgramQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.skipgramByLift(
      documents(s, dir), "text", window = 3, minCount = 5L, k = 50)

  /** Integer-exact PageRank (q120): 10 damped iterations over the
    * symmetrized part co-order graph (q115's edge rule), all arithmetic
    * in long `div` so the DuckDB oracle unrolls the identical fixed-point
    * recurrence ([[graft.operators.PageRank]]); top-100 by score. */
  private def pageRankQ(s: SparkSession, dir: String): DataFrame = {
    val op = lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val pairs = op.toDF("o", "pa").join(op.toDF("o", "pb"), "o")
      .where(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
    val ed = pairs.select(col("pa").as("s_"), col("pb").as("d_"))
      .unionByName(pairs.select(col("pb").as("s_"), col("pa").as("d_")))
    graft.operators.PageRank.integerPageRank(ed, "s_", "d_", iterations = 10)
      .select(col("node").as("part"), col("score"))
      .orderBy(col("score").desc, col("part"))
      .limit(100)
  }

  /** Group-aware split audit (q118): leakage-safe train/val/test keyed on
    * the `source` group (every doc of a source co-assigns) with the
    * achieved-vs-target row-share drift report
    * ([[graft.operators.Splits.groupSplitAudit]]). */
  private def groupSplitQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Splits.groupSplitAudit(
      documents(s, dir), "source",
      Seq(("train", 800000L), ("val", 100000L), ("test", 100000L)))
      .orderBy("split")

  /** BPE pair statistics (q88): the first iteration of the BPE trainer's
    * merge loop — adjacent character pairs weighted by word frequency,
    * top 20. The corpus is touched once (word-frequency hash-agg); the
    * pair count runs at vocabulary grain ([[graft.operators.Bpe]]). */
  private def bpePairsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.pairCounts(
      graft.operators.Bpe.wordFrequencies(documents(s, dir), "text"))
      .orderBy(col("n").desc, col("a"), col("b"))
      .limit(20)

  /** Gopher rule battery (q89): the standard pretraining quality filter
    * set (word-count/mean-word-length bounds, symbol ratio, alphabetic
    * fraction, stop-word evidence) as exact-arithmetic projections. */
  private def gopherRulesQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.gopherRules(documents(s, dir), "text")
      .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "alpha_frac", "stop_hits", "words_ok", "word_len_ok", "symbol_ok",
        "alpha_ok", "stop_ok", "pass")
      .orderBy("doc_id")

  /** Ordered funnel (q90): greedy-earliest signup → click → purchase per
    * user — one Exchange on user_id total (chained conditional-min windows
    * + a partitioning-reusing collapse; [[graft.operators.Funnel]]).
    * The whole funnel runs on epoch-MICROS longs (exact decimal ns→µs
    * floor, the `Tables.eventTs` idiom): DuckDB reads parquet
    * TIMESTAMP(NANOS) at µs precision, so µs is the shared comparison
    * domain. */
  private def funnelQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.funnelSteps(
      events(s, dir).withColumn("tus",
        floor(col("ts").cast("decimal(20,0)") / lit(1000)).cast("long")),
      "user_id", "tus", "event_type",
      Seq("signup", "click", "purchase"))
      .select(col("user_id"), col("t1").as("t1_us"), col("t2").as("t2_us"),
        col("t3").as("t3_us"), col("steps_completed"))
      .orderBy("user_id")

  /** Retention triangle (q91): weekly cohorts on the integer epoch-day
    * grid — two map-side-combined hash aggs + one co-partitioned join,
    * distinct users via the two-level aggregate (no countDistinct
    * Expand). */
  private def retentionQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    graft.operators.Funnel.retentionCohorts(ev, "user_id",
      graft.operators.Funnel.epochDayFromNanos(col("ts")))
      .orderBy("cohort_week", "week_offset")
  }

  /** Exact heavy hitters via two-pass Misra-Gries (q92): tokens above
    * 1/30 of the corpus stream. k=29 < the 31-token domain, so the
    * sketch's decrement path genuinely runs; the exact recount pass
    * makes the answer deterministic and oracle-able
    * ([[graft.operators.HeavyHitters]]). */
  private def heavyHittersQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters.exactHeavyHitters(
      documents(s, dir)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok")),
      "tok", k = 29)
      .withColumnRenamed("item", "tok")

  /** Vocabulary-coverage gate (q93): CCNet-reduced LM filter — reference
    * vocab = top-20 terms of the `lang='en'` slice ([[graft.operators
    * .TextSearch.buildVocab]]), coverage = exact in-vocab/total token
    * ratio per document, broadcast-joined (no corpus shuffle beyond the
    * per-doc count collapse). */
  private def vocabCoverageQ(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val vocab = graft.operators.TextSearch.buildVocab(
      docs.filter(col("lang") === "en"), "text", minCount = 1L, maxVocab = 20)
    graft.operators.TextSearch.vocabCoverage(docs, "doc_id", "text", vocab)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("in_vocab"),
        col("coverage"), (col("coverage") >= lit(0.65)).as("pass"))
      .orderBy("doc_id")
  }

  /** Incremental funnel (q96): fold the funnel state over a time-split of
    * the events (before/after 2024-01-15, the ordered-batch contract) —
    * the result must equal q90's full recompute, so it shares q90's
    * oracle SQL verbatim. */
  private def funnelIncQ(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).withColumn("tus",
      floor(col("ts").cast("decimal(20,0)") / lit(1000)).cast("long"))
    val steps = Seq("signup", "click", "purchase")
    val cut = lit(1705276800000000L) // 2024-01-15T00:00:00Z epoch µs
    val st0 = graft.operators.Funnel.funnelSteps(
      ev.filter(col("tus") < cut), "user_id", "tus", "event_type", steps)
    graft.operators.Funnel.updateFunnelState(
      st0, ev.filter(col("tus") >= cut), "user_id", "tus", "event_type", steps)
      .select(col("user_id"), col("t1").as("t1_us"), col("t2").as("t2_us"),
        col("t3").as("t3_us"), col("steps_completed"))
      .orderBy("user_id")
  }

  /** Markov transition matrix (q94): per-user next-event bigrams with
    * exact conditional probabilities — ordered in the engine-shared
    * (epoch-µs, event_id) domain ([[graft.operators.Funnel]]). */
  private def transitionsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.transitionCounts(
      events(s, dir).withColumn("tus",
        floor(col("ts").cast("decimal(20,0)") / lit(1000)).cast("long")),
      "user_id", Seq(col("tus"), col("event_id")), "event_type")
      .orderBy("prev_type", "event_type")

  /** RFM segmentation (q95): recency/frequency/monetary quartiles via the
    * scale-safe grouped ntile (exact NTILE parity, no corpus-grain
    * window) — money through the exact-cents policy. */
  private def rfmQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnel.rfm(
      events(s, dir), "user_id",
      graft.operators.Funnel.epochDayFromNanos(col("ts")), col("value"))
      .orderBy("user_id")

  /** LSH bucket-occupancy probe (q86): the pre-flight that tells you how
    * q18's pair harvest will scale before running it — expansion work is
    * `sum(occ*(occ-1)/2)` over band buckets at the distinct-signature
    * grain. Same portable params as q18, so DuckDB replays the pipeline. */
  private def minhashStatsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashBucketStats(documents(s, dir), "doc_id", "text",
      shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)

  /** Content-defined chunking: rolling-hash boundaries (window 4, divisor
    * 64 → ~64-token expected chunks) — edit-robust chunk alignment for
    * chunk-level dedup. Entirely in-row; the only added plan node is the
    * chunk explode. */
  private def cdcChunksQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.cdcChunks(documents(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_idx")

  /** Quantized Gram matrix (PCA/whitening prep): one [[graft.operators.Gram]]
    * pass over the int8-quantized embedding corpus — integer-exact X^T X,
    * constant 16 KiB aggregation buffers, only per-partition buffers
    * shuffle. The explode-free treeAggregate pattern for matrix moments. */
  private def gramQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Gram.quantizedGram(
      embeddings(s, dir), "vec_id", "embedding", dim = 64)

  /** Join-size / skew pre-flight (q83): exact self-join cardinality of
    * lineitem on l_partkey from the per-key count table — the probe a
    * planner runs before committing a 100 TB pair join (the dedup
    * bucket-size question as a query). Facts are read once each side;
    * only count tables join. */
  private def joinSizeQ(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).select(col("l_partkey"))
    graft.operators.SkewJoin.joinSizeEstimate(li, li, "l_partkey", topK = 5)
  }

  /** Categorical profile of documents(lang, source): the string twin of
    * q57 — same melted-grain posture (one shuffle, count-of-grain instead
    * of countDistinct, WindowGroupLimit-bounded top-k). */
  private def profileCatQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.profileCategorical(
      documents(s, dir), Seq("lang", "source"), topK = 5)

  /** Z-order layout audit: Morton keys over (l_suppkey, l_partkey), fixed
    * z-ranges as stand-in files — per range, BOTH dimensions are bounded
    * (the locality that makes file stats prune on either column). */
  private def zorderLayoutQ(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .select(col("l_suppkey"), col("l_partkey"))
      .withColumn("z", graft.operators.Layout.zValue2(
        col("l_suppkey"), col("l_partkey"), bits = 16))
      .withColumn("zbucket", shiftright(col("z"), 16))
      .groupBy("zbucket")
      .agg(
        count(lit(1)).as("n"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"))
      .orderBy("zbucket")

  /** Chunk-level exact dedup — the CDC payoff: duplicated content chunks
    * across documents (edit-robust, so shared passages dedupe even when
    * the surrounding documents differ). One hash-agg shuffle over q78's
    * chunk table. */
  private def chunkDedupQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.cdcChunks(documents(s, dir), "doc_id", "text")
      // two-level agg: (hash, doc) grain first, then count(*) IS the
      // distinct doc count — no countDistinct Expand (the q02 pattern)
      .groupBy("chunk_hash", "id")
      .agg(count(lit(1)).as("c"), min(col("n_tokens")).as("nt"))
      .groupBy("chunk_hash")
      .agg(
        sum(col("c")).as("n_chunks"),
        count(lit(1)).as("n_docs"),
        min(col("nt")).as("n_tokens"),
        min(col("id")).as("keep_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("chunk_hash")

  /** Per-language quality deciles: ntile feature-bucketing of doc length
    * within each language — the discretization step before balanced
    * per-bucket sampling. Total order (n_chars, doc_id) makes the tiling
    * deterministic; ntile's floor-distribution semantics agree across
    * engines. NOT a per-language `ntile` window (that would put an entire
    * language — English is ~half a pretraining corpus — into one window
    * partition): [[graft.operators.Batching.groupedNtile]] derives the same
    * tile from the distinct-length histogram rank, bit-identically. */
  private def qualityDecilesQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Batching.groupedNtile(
      documents(s, dir)
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_chars")),
      keyCols = Seq("lang"), valCol = "n_chars", idCol = "doc_id",
      n = 10, outCol = "decile")
      .orderBy("doc_id")

  /** End-to-end curation gate: the keep/drop decision table a pretraining
    * pipeline derives per document — composes the q42 repetition rule, the
    * q15 language-id agreement check, and the q62 per-language exact-p25
    * length gate into one verdict. */
  /** The unordered verdict table backing q76 (and the agreement/AUC
    * diagnostics q153/q154, which must not inherit its presentation
    * sort). */
  private def curationVerdicts(s: SparkSession, dir: String): DataFrame = {
    val rep = repetitionStats(s, dir).select(col("doc_id"), col("repetitive"))
    val lng = langId(s, dir)
      .select(col("doc_id"),
        (col("predicted_lang") === col("lang")).as("lang_match"))
    val d = documents(s, dir)
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("n_chars"))
    val th = graft.operators.Profiling.exactQuantilesByKey(d, "lang", "n_chars", Seq(0.25))
      .select(col("lang"), col("value").as("p25"))
    val len = d.join(broadcast(th), "lang")
      .select(col("doc_id"), (col("n_chars") >= col("p25")).as("length_ok"))
    rep.join(lng, "doc_id").join(len, "doc_id")
      .withColumn("keep",
        !col("repetitive") && col("lang_match") && col("length_ok"))
  }

  private def curationGateQ(s: SparkSession, dir: String): DataFrame =
    curationVerdicts(s, dir).orderBy("doc_id")

  /** Interval-overlap join (binned, each pair exactly once): click
    * influence windows [ts, ts+5min] × purchase attribution windows
    * [ts-30min, ts] per user — the attribution-overlap shape. */
  private def intervalOverlapQ(s: SparkSession, dir: String): DataFrame = {
    def us(c: Column): Column =
      floor(c.cast("decimal(20,0)") / lit(1000)).cast("long")
    val ev = events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        us(col("ts")).as("c_start"))
      .withColumn("c_end", col("c_start") + lit(300000000L))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        us(col("ts")).as("p_end"))
      .withColumn("p_start", col("p_end") - lit(1800000000L))
    graft.operators.RangeJoin.intervalOverlapJoin(
      clicks, purchases, Seq("user_id"),
      "c_start", "c_end", "p_start", "p_end", binWidth = 1800000000L)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** Incremental duplicated-span screen: batch docs (doc_id % 7 == 0)
    * scored against the span store of the rest — dup = in-store OR
    * repeated within the batch. */
  private def dupSpansIncQ(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    Dedup.duplicatedSpansIncremental(
      docs.filter(col("doc_id") % 7 === 0),
      Dedup.spanWindowHashes(docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text")
        .select("h").distinct(),
      "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** A14: composite weighted signal score (entity-store.js:131-215 /
    * app.py:765-804 weight normalization): plain column arithmetic over a
    * small weight map. */
  private def signalScore(s: SparkSession, dir: String): DataFrame = {
    val weights = Map("click" -> 0.24, "view" -> 0.24, "error" -> 0.16,
      "purchase" -> 0.12, "signup" -> 0.10)
    val pivots = weights.toSeq.sortBy(_._1).map { case (t, _) =>
      Rollups.countIf(col("event_type") === t).as(s"${t}_cnt")
    }
    val score = weights.toSeq.sortBy(_._1).map { case (t, w) =>
      col(s"${t}_cnt") * w
    }.reduce(_ + _)
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(pivots.head, pivots.tail: _*)
      .withColumn("signal_score", score)
      .orderBy(col("signal_score").desc, col("user_id"))
      .limit(50)
  }

  /** A16: distinct counting — exact (oracle-checked) alongside the
    * approx_count_distinct scale path (its estimate is engine-specific, so
    * the oracle checks exact only and the approx column is informational...
    * kept out of the oracle projection). */
  private def distinctUsers(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** A13: reproducible uniform sample via hash ordering — ORDER BY
    * md5(key) LIMIT n. The reference samples with a seeded PRNG
    * (scripts/sentiment_bakeoff.py:204-300) whose stream is engine-specific;
    * hash-ordering gives the same statistical uniformity but is
    * deterministic across engines AND stable under data growth (a row's
    * hash never changes), which is what a training pipeline wants from a
    * holdout/eval sample. md5 exists in both Spark and DuckDB → oracled. */
  private def randomSample(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  /** Per-key EXACT-SIZE deterministic sample: k docs per language in md5
    * order — the per-stratum twin of q36 (rate-based q51 gives exact RATES;
    * this gives exact COUNTS per class, the eval-set construction shape).
    * The rank window is bounded by WindowGroupLimit pushdown (per-partition
    * top-k heaps), never a full per-key sort spill. */
  private def perKeySample(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 20)
      .select(col("lang"), col("rn"), col("doc_id"))
      .orderBy("lang", "rn")
  }

  /** K10: evidence summarizer — histogram rows by type/reason/sentiment
    * (app.py:1515-1561). */
  private def evidenceHistogram(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("bucket",
        when(col("value") >= 100, "high").when(col("value") >= 30, "mid")
          .otherwise("low"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        Rollups.exactMoneySum(col("value")).as("total_value"))
      .orderBy("event_type", "bucket")

  /** K7: storyline candidate scores — per-bucket affected counts, episode
    * durations (W7) and the fixed linear score formula
    * (app.py:1968-2211: affected*6 + items*0.35 + avg_dur*2 + active*0.4). */
  private def storylineScores(s: SparkSession, dir: String): DataFrame = {
    // one linear pipeline (window -> episode agg -> bucket agg): the
    // previous two-branch + join shape recomputed the scan->daily-aggregate
    // subplan for the per-bucket counts AND the episode durations
    val daily = eventsDaily(s, dir).filter(col("n") >= 2)
    val w = Window.partitionBy("user_id").orderBy("d")
    val islands = daily
      .withColumn("__pd", lag(col("d"), 1).over(w))
      .withColumn("__brk",
        when(col("__pd").isNull || datediff(col("d"), col("__pd")) > 1, 1).otherwise(0))
      .withColumn("__island",
        sum(col("__brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val perEpisode = islands.groupBy(col("user_id"), col("__island"))
      .agg(count(lit(1)).as("episode_days"), sum(col("n")).as("ep_n"))
    perEpisode.withColumn("bucket", col("user_id") % 5)
      .groupBy("bucket")
      .agg(countDistinct(col("user_id")).as("affected"),
        sum(col("ep_n")).as("items"),
        (sum(col("episode_days")).cast("double") / count(lit(1))).as("avg_dur"),
        sum(col("episode_days")).as("active_days"))
      .withColumn("score",
        col("affected") * 6.0 + col("items") * 0.35 +
          col("avg_dur") * 2.0 + col("active_days") * 0.4)
      .orderBy(col("score").desc, col("bucket"))
  }

  /** sector_baseline endpoint rows (app.py:4523-4569) over the TPC-H-ish
    * tables: entities = customers, sector = market segment, metric = daily
    * order count. The window end is the SECTOR's own max date, resolved
    * lazily (broadcast 1-row crossJoin, no driver probe); ordering pins
    * Postgres NULLS FIRST on latest_value. Rounded summary/peer columns are
    * exercised by InsightsSpec goldens (bround vs binary-round engines
    * diverge at shortest-repr boundaries, so they stay out of the oracle). */
  private def sectorBaselineRows(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("date"))
      .agg(count(lit(1)).as("n"))
    val edm = daily.select(
      col("date"), lit("brand").as("entity_type"),
      col("o_custkey").as("entity_id"), col("o_custkey").as("company_id"),
      lit(null).cast("string").as("ceo_id"), lit("").as("entity_name"),
      lit("").as("company"), lit("").as("ceo"), col("n"))
    val companies = customer(s, dir).select(
      col("c_custkey").as("id"), col("c_name").as("name"),
      col("c_mktsegment").as("sector"))
    val rows = graft.api.Insights.sectorBaselineRows(
      edm, companies, "brand", "BUILDING", "n", days = 30)
    rows.select(col("entity_id"), col("sector"), col("window_value"),
      col("avg_daily_value"), col("latest_value"), col("peak_value"),
      col("signal_days"))
      .orderBy(col("entity_id"))
  }

  /** aggregate_crisis_patterns endpoint (app.py:4696-4784) over events:
    * entities = users, tags = event types, with the group-normalization
    * ladder exercised (well-formed / empty / garbage labels + an is_crisis
    * flag). The rounded avg-duration column is dropped from the oracle
    * surface (same bround-parity rationale as q45); everything else —
    * episodes, medians, actives, top-3 samples — is hash-checked. */
  private def crisisPatterns(s: SparkSession, dir: String): DataFrame = {
    // The daily agg feeds BOTH the max-date probe and the narrative rows;
    // the probe recompute is absorbed by aggregateCrisisPatterns' persist
    // of `base` (plan-identical calls share the cache entry — an eager
    // localCheckpoint here benched 2x slower by defeating that reuse)
    val daily = events(s, dir)
      .groupBy(col("user_id"), eventDay(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val rows = daily.select(
      col("d").as("date"),
      col("user_id").cast("string").as("entity_id"),
      concat(lit("user_"), col("user_id")).as("entity_name"),
      concat(lit("S"), col("user_id") % 3).as("sector"),
      col("event_type").as("narrative_primary_tag"),
      when(col("event_type").isin("click", "view"), "crisis")
        .when(col("event_type") === "error", "")
        .otherwise("odd_label").as("narrative_primary_group"),
      when(col("event_type") === "error", true)
        .otherwise(lit(null).cast("boolean")).as("narrative_is_crisis"),
      col("n").as("negative_item_count"))
      // window end = global max day, attached lazily (no driver probe)
      .crossJoin(broadcast(daily.agg(max(col("d")).as("__end"))))
    graft.api.Insights.aggregateCrisisPatterns(rows, col("__end"), "brand", false, 10)
      .select(col("tag"), col("group"), col("is_crisis"),
        col("brands_affected"), col("episode_count"),
        col("median_duration_days"), col("max_duration_days"),
        col("active_entities_latest"), col("total_negative_items"),
        array_join(col("sample_entities"), "|").as("sample_entities"))
  }

  /** §5 bake-off analogue: confusion matrix of labeled lang vs the langid
    * heuristic's prediction (reference scripts/sentiment_bakeoff.py writes
    * agreement + confusion artifacts; this is that comparison as a query). */
  private def langConfusion(s: SparkSession, dir: String): DataFrame =
    graft.operators.LabelEval.confusionMatrix(
      langId(s, dir), col("lang"), col("predicted_lang"))
      .orderBy("expected", "predicted")

  /** Exact n-gram Jaccard dedup (the verification kernel behind MinHash-LSH
    * q18, as its own oracled query): word-bigram shingle sets, candidates
    * blocked by language over a bounded doc subset, true Jaccard emitted for
    * pairs >= 0.08. At corpus scale the candidate generator is the LSH pass
    * (q18) — this exact kernel then runs only on its survivors, so the
    * bounded block here mirrors the real per-bucket workload shape. */
  private def jaccardVerify(s: SparkSession, dir: String): DataFrame = {
    // Relational shape (explode shingles -> join on the shingle -> count
    // intersections) rather than carrying shingle arrays through the pair
    // join: 3x faster at sf0.1 and the only shape that scales (shuffle is
    // O(shingle rows), never O(pairs x shingle-set)). Shingles travel as
    // xxhash64 of the token tuple — a pairwise 2^-64 collision tolerance,
    // standard for dedup pipelines; verified bit-identical to the string-
    // shingle oracle on this corpus.
    val sh = documents(s, dir).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(SF.tokenShingleHashes(col("text"), 2))).as("s"))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.select(col("lang"), col("doc_id").as("id_a"), col("s"))
      .join(sh.select(col("lang").as("lb"), col("doc_id").as("id_b"), col("s").as("sb")),
        col("lang") === col("lb") && col("s") === col("sb") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("m"))
    inter
      .join(counts.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(counts.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jaccard", col("m").cast("double") / (col("na") + col("nb") - col("m")))
      .filter(col("jaccard") >= lit(0.08))
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Quality scoring for corpus filtering: length/token/stopword/digit
    * components plus an integer-threshold keep flag (classic pretraining
    * quality-filter shape; ratios are exact int/int double divisions →
    * bit-identical across engines). */
  private def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val toks = TF.tokenCount(col("text"))
    val stopHits = TF.stopwordHits(col("text"), Seq("the", "a", "and", "of"))
    documents(s, dir)
      .select(col("doc_id"),
        TF.charCount(col("text")).as("n_chars"),
        toks.as("n_tokens"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_nonspace"),
        stopHits.as("stop_hits"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", ""))).cast("long").as("n_digits"))
      .withColumn("mean_token_len", col("n_nonspace").cast("double") / col("n_tokens"))
      .withColumn("stopword_ratio", col("stop_hits").cast("double") / col("n_tokens"))
      .withColumn("digit_ratio", col("n_digits").cast("double") / col("n_chars"))
      .withColumn("quality_ok",
        col("n_tokens") >= 20 && col("n_tokens") <= 2000 && col("stop_hits") >= 1)
      .orderBy("doc_id")
  }

  /** Repetition quality stats (Gopher-style pretraining filters): distinct-
    * token ratio, top-unigram fraction, top-bigram fraction per document,
    * plus a repetitive flag. Fully relational (explode -> two chained
    * aggregations per n-gram order); ratios are exact int/int divisions. */
  private def repetitionStats(s: SparkSession, dir: String): DataFrame = {
    // n-grams travel as xxhash64 values, never as strings (string bigram
    // materialization benched 3x slower); counts over hashes equal counts
    // over the strings modulo a 2^-64 pairwise collision tolerance
    val toks = documents(s, dir).select(col("doc_id"),
      explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("t"))
    val uni = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        max(col("c")).as("top_token_count"))
    val bi = documents(s, dir).select(col("doc_id"),
      explode(SF.tokenShingleHashes(col("text"), 2)).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_bigrams"),
        max(col("c")).as("top_bigram_count"))
    uni.join(bi, "doc_id")
      .withColumn("distinct_ratio",
        col("distinct_tokens").cast("double") / col("n_tokens"))
      .withColumn("top_token_frac",
        col("top_token_count").cast("double") / col("n_tokens"))
      .withColumn("top_bigram_frac",
        col("top_bigram_count").cast("double") / col("n_bigrams"))
      .withColumn("repetitive",
        col("top_token_frac") > lit(0.1) || col("top_bigram_frac") > lit(0.05))
      .orderBy("doc_id")
  }

  /** Bloom-prune semi join (q97): the fact scan is pruned by a dim-key
    * bloom filter BEFORE the join exchange ([[graft.operators.BloomPrune]],
    * the explicit form of AQE's runtime row-level filtering); the exact
    * semi join removes the fpp residue, so the result is bit-identical to
    * the plain `l_partkey IN (dim keys)` aggregate at ANY fpp — only the
    * shuffled volume changes. At 100 TB this is the difference between
    * shuffling the whole fact table and shuffling the ~6% that can match. */
  private def bloomPruneQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.BloomPrune.semiJoin(
      lineitem(s, dir), col("l_partkey"),
      part(s, dir).where(col("p_size") >= 48), col("p_partkey"),
      expectedItems = 100000L, fpp = 0.01)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        Rollups.exactMoneySum(col("l_quantity"), 0).as("sum_qty"))
      .orderBy("l_returnflag")

  /** Snapshot diff (q98): CDC compare of two derived snapshots of orders —
    * "old" drops every 7th key (→ added in new) and doubles the price on
    * every 5th (→ changed) — one full-outer join at the key grain, change
    * classification + changed-column list as codegen expressions
    * ([[graft.operators.TableDiff]]). */
  private def tableDiffQ(s: SparkSession, dir: String): DataFrame = {
    val base = orders(s, dir).select("o_orderkey", "o_orderstatus", "o_totalprice")
    val old = base.where(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
    graft.operators.TableDiff.diff(old, base, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** Calendar gap-fill + forward-fill (q99): a sparse daily gauge (max
    * order price per priority among rare big orders — ~12% day density)
    * regularized onto each key's full calendar span with the last
    * observation carried forward ([[graft.operators.Resample]]): in-row
    * `sequence` explode spine, one (key, date) left join, one per-key
    * window. */
  private def resampleQ(s: SparkSession, dir: String): DataFrame = {
    val obs = orders(s, dir)
      .where(col("o_totalprice") > 450000)
      .groupBy(col("o_orderpriority").as("pri"),
        col("o_orderdate").cast("date").as("d"))
      .agg(max(col("o_totalprice")).as("mx"))
    graft.operators.Resample.gapFillDaily(obs, Seq("pri"), "d", Seq("mx"))
      .orderBy("pri", "d")
  }

  /** Tukey IQR outlier screen (q100): exact per-type quartiles of
    * events.value through the bucket-refinement kernel, 1.5·IQR fences,
    * one counting pass ([[graft.operators.Profiling.iqrOutliers]]) — the
    * distribution-drift alarm a metrics pipeline runs per batch. */
  private def iqrOutliersQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.iqrOutliers(
      events(s, dir).select(col("event_type"), col("value")),
      "event_type", "value")

  /** Frequent co-purchase pairs (q101): A-priori pair mining over
    * (order, brand) baskets ([[graft.operators.Itemsets]]) — items
    * support-pruned BEFORE the pair self-join, the self-join reuses one
    * basket-keyed exchange, pair width bounded by per-basket frequent
    * items. */
  private def frequentPairsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Itemsets.frequentPairs(
      lineitem(s, dir)
        .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand")),
      "l_orderkey", "p_brand", minSupport = 350L)
      .orderBy("item_a", "item_b")

  /** Deterministic corpus split (q102): 80/10/10 train/val/test by integer
    * ppm thresholds over the portable salted md5-60 of doc_id
    * ([[graft.operators.Splits]]) — a per-row projection (zero shuffles)
    * whose assignment can never move when the corpus grows. */
  private def hashSplitQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Splits.hashSplit(
      documents(s, dir).select("doc_id", "lang"), "doc_id",
      Seq(("train", 800000L), ("val", 100000L), ("test", 100000L)))
      .orderBy("doc_id")

  /** Exact-sum Pearson + OLS slope (q103): quantity↔price co-movement per
    * return flag ([[graft.operators.Rollups.pearsonByKey]]) — co-moment
    * sums exact in the scaled-cents decimal domain, final r/slope a fixed
    * IEEE sequence, so the doubles replay bit-for-bit in DuckDB (its
    * native corr() would not: double accumulation order). */
  private def pearsonQ(s: SparkSession, dir: String): DataFrame =
    Rollups.pearsonByKey(lineitem(s, dir),
      "l_returnflag", "l_quantity", "l_extendedprice")
      .orderBy("l_returnflag")

  /** Chi-square contingency cells (q104): lang × source independence
    * decomposition over documents ([[graft.operators.Rollups.contingency]])
    * — one corpus shuffle to cell counts, marginals as cell-table windows,
    * expected/contribution as fixed per-cell IEEE ops (no float sums). */
  private def contingencyQ(s: SparkSession, dir: String): DataFrame =
    Rollups.contingency(documents(s, dir), "lang", "source")
      .orderBy("lang", "source")

  /** Blocked fuzzy resolve (q105): every truncated part name re-linked to
    * the full catalog through prefix-2 blocking + normalized Levenshtein
    * ([[graft.operators.FuzzyJoin]]) — the corpus-scale twin of q44's
    * broadcast fuzzy resolve; candidates never exceed the block. */
  private def blockedResolveQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.blockedResolve(
      part(s, dir).select(
        expr("substring(p_name, 1, length(p_name) - 1)").as("probe")),
      "probe",
      part(s, dir).select("p_name"), "p_name",
      threshold = 0.5)
      .orderBy("q")

  /** Robust MAD outlier screen (q106): exact per-priority median of order
    * totals, exact median of absolute deviations (both through the
    * bucket-refinement kernel — no value buffering), Hampel fences
    * `med ± 3·MAD`, one counting pass
    * ([[graft.operators.Profiling.madOutliers]]) — the fat-tail-resistant
    * companion to q100's IQR fences. */
  private def madOutliersQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.madOutliers(
      orders(s, dir).select(col("o_orderpriority").as("pri"),
        col("o_totalprice").as("v")),
      "pri", "v")

  /** Sorted-neighborhood linkage (q107): two SNM passes over part names
    * (forward + reversed lowercased sort keys, prefix-2 blocks, w = 5),
    * union-distinct candidates, normalized-Levenshtein scoring at 0.6
    * ([[graft.operators.SortedNeighborhood]]) — the sliding-window
    * companion to q105's equality blocking; windows partition by block,
    * never the whole corpus. */
  private def sortedNeighborhoodQ(s: SparkSession, dir: String): DataFrame = {
    val p = part(s, dir).select(col("p_partkey"), col("p_name"))
    val passes = Seq(
      (lower(col("p_name")), substring(lower(col("p_name")), 1, 2)),
      (reverse(lower(col("p_name"))), substring(reverse(lower(col("p_name"))), 1, 2)))
    val cand = graft.operators.SortedNeighborhood
      .candidatesMultiPass(p, "p_partkey", passes, w = 5)
    graft.operators.SortedNeighborhood
      .scoredPairs(cand, p, "p_partkey", "p_name", threshold = 0.6)
      .orderBy("id_a", "id_b")
  }

  /** Zone-map pruning audit (q108): the same shipdate range predicate
    * costed under two layouts ([[graft.operators.Layout.pruningReport]])
    * — zones as orderkey buckets (the natural insert order: envelopes
    * span the whole date range, nothing prunes) vs zones as shipdate
    * months (date-clustered: only the predicate's months scan). The
    * planning-time I/O delta IS the value of clustered/Z-ordered writes;
    * rows_matched is identical by construction. */
  private def zoneMapQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val li = lineitem(s, dir).select(col("l_orderkey").as("k"),
      col("l_shipdate").cast("date").as("d"))
    val lo = lit("1997-01-01").cast("date")
    val hi = lit("1997-03-31").cast("date")
    val natural = Layout.pruningReport(li,
      ((col("k") - pmod(col("k"), lit(1000L))) / lit(1000L)).cast("long"),
      col("d"), lo, hi)
      .select(lit("natural").as("layout"), col("*"))
    val clustered = Layout.pruningReport(li, trunc(col("d"), "month"),
      col("d"), lo, hi)
      .select(lit("by_month").as("layout"), col("*"))
    natural.unionByName(clustered).orderBy("layout")
  }

  /** Data-contract report (q109): the expectation suite over orders +
    * the lineitem→orders referential check
    * ([[graft.operators.Expectations]]) — a deliberate mix of passing and
    * failing checks (o_custkey repeats, P-status rows, out-of-range
    * totals, low-priority regex misses) so the report is exercised, not
    * vacuous. Row-local checks share ONE aggregate pass. */
  private def expectationsQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations._
    val o = orders(s, dir)
    val ordersReport = report(o, Seq(
      NotNull("o_custkey"),
      Unique(Seq("o_orderkey")),
      Unique(Seq("o_custkey")),
      InRange("o_totalprice", lit(0.0), lit(450000.0)),
      InSet("o_orderstatus", Seq("F", "O")),
      Matches("o_orderpriority", "^[1-3]-")))
    val fkReport = report(lineitem(s, dir),
      Seq(ForeignKey("l_orderkey", o, "o_orderkey")))
    ordersReport.unionByName(fkReport).orderBy("check_name")
  }

  /** Token-weighted length quantiles (q110): per-language p50/p90 of doc
    * char length where each doc counts by its TOKEN count
    * ([[graft.operators.Profiling.weightedQuantilesByKey]]) — the
    * distributed cumulative-weight selection (no driver finalize, state
    * bounded by per-key distinct lengths); integer weights make the
    * lower-quantile definition engine-exact. */
  private def weightedQuantilesQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.weightedQuantilesByKey(
      documents(s, dir).select(col("lang"),
        TF.charCount(col("text")).as("len"),
        TF.tokenCount(col("text")).as("w")),
      "lang", "len", "w", Seq(0.5, 0.9))
      .orderBy("lang", "prob")

  /** Supplier activity coverage (q111): each shipment opens a 7-day
    * activity window; overlapping windows coalesce via the cummax sweep
    * ([[graft.operators.Windows.intervalUnion]]) and per-supplier
    * coverage is the DEDUP'd day count — the interval twin of q07's
    * gaps-and-islands, pure integer day arithmetic. */
  private def intervalUnionQ(s: SparkSession, dir: String): DataFrame = {
    val iv = lineitem(s, dir)
      .where(col("l_suppkey").isNotNull && col("l_shipdate").isNotNull)
      .select(col("l_suppkey"),
        datediff(col("l_shipdate").cast("date"),
          lit("1992-01-01").cast("date")).cast("long").as("s"))
      .withColumn("e", col("s") + lit(6L))
    graft.operators.Windows.intervalUnion(iv, Seq("l_suppkey"), "s", "e")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_ranges"),
        sum(col("n_intervals")).as("n_merged"),
        sum(col("u_end") - col("u_start") + lit(1L)).as("covered_days"))
      .orderBy("l_suppkey")
  }

  /** Incremental sessionization (q112): events split at a time cut,
    * each half sessionized alone, fragments fused through the gap-sweep
    * ([[graft.operators.Sessionize]]) — under the ordered-batch contract
    * the fold telescopes to q54's one-shot session table, so this query
    * shares q54's oracle SQL verbatim (the same proof shape as q96). */
  private def sessionizeIncQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sessionize
    val ev = events(s, dir).withColumn("tus",
      floor(col("ts").cast("decimal(20,0)") / lit(1000)).cast("long"))
    val gapUs = 21600000000L // 6 hours
    val cut = lit(1705276800000000L) // 2024-01-15T00:00:00Z epoch µs
    val isPurchase = col("event_type") === "purchase"
    val half1 = Sessionize.sessionize(
      ev.filter(col("tus") < cut), "user_id", "tus", gapUs, isPurchase)
    val half2 = Sessionize.sessionize(
      ev.filter(col("tus") >= cut), "user_id", "tus", gapUs, isPurchase)
    Sessionize.updateSessionState(half1, half2, "user_id", gapUs)
      .withColumn("session_idx", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("session_start_us")))
        .cast("long"))
      .orderBy("user_id", "session_idx")
  }

  /** Prefix-filtered exact set-similarity self-join (q113): every document
    * pair with 3-gram shingle Jaccard >= 0.5, found via the PPJoin-style
    * rare-token-first prefix filter ([[graft.operators.SetSimilarity]])
    * instead of an all-pairs token join — the EXACT companion to q18's
    * probabilistic MinHash-LSH. The oracle is the brute-force pair join,
    * so the gate proves the prefix filter loses nothing. */
  private def setSimilarityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.SetSimilarity.selfJoin(
      documents(s, dir), "doc_id", "text", threshold = 0.5, shingleSize = 3)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy("id_a", "id_b")

  /** EWMA control chart (q114): per-user fixed-point EWMA + EW mean
    * absolute deviation over the event stream, spikes where the one-step
    * residual exceeds `3·dev` ([[graft.operators.ControlChart]]) — the
    * genuinely recursive kernel a window can't express, shipped as ONE
    * shuffle + sortWithinPartitions + O(1)-state streaming fold. Integer
    * micro-scale arithmetic keeps it bit-exact against DuckDB's
    * recursive-CTE replay of the same recurrence. */
  private def ewmaChartQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.ControlChart.ewmaChart(
      events(s, dir).select(col("user_id"), col("event_id"), col("ts"),
        floor(col("value") * lit(1e6)).cast("long").as("v")),
      Seq("user_id"), Seq("ts", "event_id"), "v")
      .select(col("user_id"), col("rn"), col("event_id"), col("v"),
        col("ewma"), col("dev"), col("resid"), col("is_spike"))
      .orderBy("user_id", "rn")

  /** Co-purchase triangle census (q115): parts that co-occur in >= 2
    * orders form an undirected graph; per-part triangle counts and local
    * clustering coefficients via degree-ordered orientation
    * ([[graft.operators.Triangles]]). The oracle brute-forces the
    * three-way join on the same edge list, so the gate proves the
    * orientation enumerates every triangle exactly once. */
  private def trianglesQ(s: SparkSession, dir: String): DataFrame = {
    val op = lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = op.toDF("o", "pa").join(op.toDF("o", "pb"), "o")
      .where(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
      .select("pa", "pb")
    graft.operators.Triangles.nodeTriangles(edges, "pa", "pb")
      .select(col("node").as("part"), col("degree"), col("triangles"),
        col("clustering"))
      .orderBy("part")
  }

  /** Brand-partition modularity (q230): Newman–Girvan modularity of the
    * `p_brand` community assignment over the part co-purchase graph (parts
    * co-ordered in ≥ 2 orders — the q115/q217/q219 edge harvest). One row
    * per community with the exact-integer ingredients (node count, degree
    * mass, within-community edges, total edges) plus the community's
    * contribution to Q = Σ_c [e_c/m − (D_c/2m)²], both as a deterministic
    * floor-ppm integer and as IEEE doubles derived from the exact counts.
    *
    * Scale shape: the pair harvest is the bounded per-order fanout join
    * (orders carry ≤ ~7 parts); everything downstream lives on the edge
    * grain (two dim joins, map-side-combined rollups) and the brand grain;
    * `m` arrives by lazy 1-row crossJoin, never a collect. The squared
    * degree-mass term runs in decimal(38,0) — D_c²·1e6 overflows long at
    * ~100× but is 23 digits at worst. */
  private def modularityQ(s: SparkSession, dir: String): DataFrame = {
    val op = lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val edges = op.toDF("o", "pa").join(op.toDF("o", "pb"), "o")
      .where(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2)
      .select("pa", "pb")
    val brand = part(s, dir)
      .select(col("p_partkey").as("node"), col("p_brand").as("brand"))
    // the harvest feeds three different grains (brand-pair cells, node
    // distincts, the global edge count) — materialize it once instead of
    // re-running the order-pair self-join per consumer
    val eb = edges
      .join(brand.select(col("node").as("pa"), col("brand").as("ba")), "pa")
      .join(brand.select(col("node").as("pb"), col("brand").as("bb")), "pb")
      .localCheckpoint()
    // ONE edge-grain aggregate to the ≤|brands|² cell grain; degree mass,
    // within-edges and m are all tiny reads off it (an edge contributes its
    // count to ba's and bb's degree mass — same total as per-node degrees)
    val cells = eb.groupBy("ba", "bb").agg(count(lit(1)).as("c"))
    val degByBrand = cells.select(col("ba").as("brand"), col("c"))
      .unionByName(cells.select(col("bb").as("brand"), col("c")))
      .groupBy("brand").agg(sum(col("c")).as("degree_sum"))
    val nNodes = eb.select(col("pa").as("node"), col("ba").as("brand"))
      .unionByName(eb.select(col("pb").as("node"), col("bb").as("brand")))
      .distinct()
      .groupBy("brand").agg(count(lit(1)).as("n_nodes"))
    val byBrand = degByBrand.join(nNodes, Seq("brand"))
    val within = cells.where(col("ba") === col("bb"))
      .groupBy(col("ba").as("brand")).agg(sum(col("c")).as("within_edges"))
    val m = cells.agg(sum(col("c")).as("m_edges"))
    val d38 = "decimal(38,0)"
    byBrand.join(within, Seq("brand"), "left")
      .na.fill(0L, Seq("within_edges"))
      .crossJoin(m)
      .withColumn("__w6", col("within_edges") * lit(1000000L))
      .withColumn("__d6",
        col("degree_sum").cast(d38) * col("degree_sum").cast(d38) * lit(1000000L).cast(d38))
      .withColumn("__4m2",
        col("m_edges").cast(d38) * col("m_edges").cast(d38) * lit(4L).cast(d38))
      .withColumn("__dh", (col("degree_sum").cast("double") /
        (col("m_edges").cast("double") * lit(2.0))))
      .select(
        col("brand"), col("n_nodes"), col("degree_sum"),
        col("within_edges"), col("m_edges"),
        (((col("__w6") - pmod(col("__w6"), col("m_edges"))) / col("m_edges")).cast("long")
          - ((col("__d6") - pmod(col("__d6"), col("__4m2"))) / col("__4m2")).cast("long"))
          .as("contrib_ppm"),
        (col("within_edges").cast("double") / col("m_edges").cast("double")
          - col("__dh") * col("__dh")).as("contrib"))
      .orderBy("brand")
  }

  /** Train/heldout near-dup leakage audit (q231): the q18 MinHash
    * candidate pairs crossed with the deterministic md5 90/10 split (the
    * q36 hash law) — the eval-hygiene readout for how much near-duplicate
    * mass straddles a train/test split (train-side near-dups of held-out
    * docs inflate held-out metrics; Lee et al. 2022's contamination
    * argument at the near-dup grain). One summary row: pair counts by
    * side, the straddling fraction, and the fraction of held-out docs with
    * at least one train-side near-dup, all integer-exact with floor-ppm
    * rates. The split labels are two hash projections on the pair grain;
    * the rollup is one tiny agg — the corpus-scale work is q18's capped
    * band-bucket harvest, reused unchanged. */
  private def splitLeakageQ(s: SparkSession, dir: String): DataFrame = {
    def isTrain(c: Column): Column =
      pmod(PortableHash.md5Hash60(c), lit(1000000L)) < lit(900000L)
    // the pair table feeds two aggregates (side counts + distinct leaked
    // held docs); it is tiny (flood-capped harvest) — materialize it once
    // instead of re-running the signature/band pipeline per consumer
    val lab = Dedup.minhashCandidatePairs(documents(s, dir), "doc_id", "text",
      shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
      .select(col("id_a"), col("id_b"),
        isTrain(col("id_a")).as("ta"), isTrain(col("id_b")).as("tb"))
      .localCheckpoint()
    val ag = lab.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("ta") && col("tb"), lit(1L)).otherwise(lit(0L)))
        .as("n_train_train"),
      sum(when(!col("ta") && !col("tb"), lit(1L)).otherwise(lit(0L)))
        .as("n_held_held"),
      sum(when(col("ta") =!= col("tb"), lit(1L)).otherwise(lit(0L)))
        .as("n_cross"))
    val leaked = lab.where(col("ta") =!= col("tb"))
      .select(when(col("ta"), col("id_b")).otherwise(col("id_a")).as("h"))
      .agg(count_distinct(col("h")).as("n_held_docs_leaked"))
    val heldTotal = documents(s, dir)
      .where(!isTrain(col("doc_id")))
      .agg(count(lit(1)).as("n_held_docs"))
    def ppm(n: Column, d: Column): Column =
      when(d > 0L, ((n * lit(1000000L) - pmod(n * lit(1000000L), d)) / d)
        .cast("long")).otherwise(lit(0L))
    ag.crossJoin(leaked).crossJoin(heldTotal)
      .select(
        col("n_pairs"), col("n_train_train"), col("n_held_held"),
        col("n_cross"), col("n_held_docs_leaked"), col("n_held_docs"),
        ppm(col("n_cross"), col("n_pairs")).as("leak_ppm"),
        ppm(col("n_held_docs_leaked"), col("n_held_docs")).as("exposure_ppm"))
  }

  /** Signed-random-projection recall ablation (q232): Achlioptas/JL ±1
    * projection of the int8-quantized embeddings from 64 to {8,16,32}
    * dims ([[graft.operators.Similarity.signedProjection]], splitmix-
    * derived sign literals inlined in BOTH engines), then per probe and
    * per dim how much of the full-dimension quantized top-5 (the q48
    * chain) survives in the projected top-5 — the dimension-reduction
    * member of the ANN ablation family (q122 measures prefix truncation;
    * this measures a proper JL mix). Every product/sum through the
    * projection is an integer ≤ 64·127, so the projection is exact in any
    * summation order; the final cosines are IEEE ops over exact integers
    * — engine-identical. On this corpus the curve sits near zero at every
    * dim: the synthetic embeddings are isotropic, so top-k membership
    * among near-equidistant neighbors is unstable under ANY compression —
    * JL preserves pairwise distances, not the ranking of ties. That
    * collapse is the readout: it flags a corpus with no intrinsic
    * low-dimensional neighborhood structure BEFORE anyone ships a
    * cheapened index built on it. */
  private def jlRecallQ(s: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantizeInt8(embeddings(s, dir), "vec_id", "embedding")
    val full = Similarity
      .bruteForceTopKQuantized(q, q.filter(col("vec_id") < 10), "vec_id", 5)
      .select(col("query_id"), col("neighbor_id"))
    Seq(8, 16, 32).map { d =>
      val pq = Similarity.signedProjection(q, "vec_id", "qvec",
        Similarity.jlSigns(d, 64))
      val proj = Similarity
        .bruteForceTopKQuantized(pq, pq.filter(col("vec_id") < 10), "vec_id", 5)
        .select(col("query_id"), col("neighbor_id"))
      full.join(proj.withColumn("__hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
        .select(col("query_id"), lit(d).as("dim"), col("n_overlap"),
          (col("n_overlap").cast("double") / 5).as("recall"))
    }.reduce(_ unionByName _)
      .orderBy("query_id", "dim")
  }

  /** Cross-grid perceptual near-dup (q233): q229's aHash pairing made
    * robust to the brightness/contrast edits that flip aHash bits near the
    * lattice mean — BOTH perceptual fingerprints (aHash + gradient dHash)
    * computed in one real-ImageIO decode pass
    * ([[graft.multimodal.Multimodal.perceptualHashBands]]), candidates
    * harvested from the UNION of the two hashes' band buckets at the
    * combined-fingerprint grain, exact `bit_count(xor)` verify on each
    * family, pair kept when EITHER Hamming ≤ 3 (pigeonhole-complete per
    * family; [[Dedup.dualHashPairs]]). The oracle replays both lattices
    * from the closed-form pixel law (PNG is lossless, so decode ≡ law) —
    * the Spark side is the only one that touches the codec. */
  private def dhashNearDupQ(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.synthesizeMedia(
      documents(s, dir), "doc_id", "text")
      .filter(col("media_type") === "image")
    val hashes = graft.multimodal.Multimodal.perceptualHashBands(media)
    Dedup.dualHashPairs(hashes, "media_id", "abands", "dbands", maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  /** Image dedup GROUPS (q236): the step q233's pairs exist for — the
    * union-band pair graph folded into dedup groups with a canonical
    * keeper (min media_id per component), q47's components topology on the
    * multimodal grain. CC reads the pair graph once into its own
    * adjacency, so its rounds never re-run the decode+hash pipeline; the
    * oracle derives components by recursive reachability over the same
    * closed-form pair set. */
  private def imageDedupGroupsQ(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.synthesizeMedia(
      documents(s, dir), "doc_id", "text")
      .filter(col("media_type") === "image")
    val hashes = graft.multimodal.Multimodal.perceptualHashBands(media)
    // CC at the REPRESENTATIVE grain (the q239 move, applied here in r12):
    // the expanded pair set carries Σ group² within-clique edges, but the
    // components are determined by the rep graph alone (rep = min member
    // id, so min-reachable-rep == min-reachable-member — pinned by the
    // dualHashPairGraph differential spec). A member belongs to the
    // expanded graph iff its group has ≥ 2 members (within-pairs exist)
    // or its rep survives a verified cross pair — both read off the
    // bounded group/rep tables, so the quadratic expansion is never
    // materialized. Output identical to CC over the expanded pairs.
    val (members, repPairs, _) = Dedup.dualHashPairGraph(
      hashes, "media_id", "abands", "dbands", maxHamming = 3)
    val comps = Dedup.connectedComponents(repPairs)
      .select(col("id").as("rep"), col("component").as("__c"))
    val sizes = members.groupBy("rep").agg(count(lit(1)).as("__n"))
    members
      .join(sizes, "rep")
      .join(comps, Seq("rep"), "left")
      .filter(col("__n") >= 2 || col("__c").isNotNull)
      .select(col("id"), coalesce(col("__c"), col("rep")).as("component"))
      .orderBy("id")
  }

  /** Audio fingerprint near-dup (q237): the audio member of the
    * multimodal dedup family, through a REAL audio codec — WAV payloads
    * (RIFF/PCM 16-bit, [[graft.multimodal.Multimodal.synthesizeAudio]])
    * decode through `javax.sound.sampled` into 65 frame energies, the 64
    * energy-gradient sign bits pack into 4×16-bit bands
    * ([[graft.multimodal.Multimodal.audioEnergyBands]] — dHash's move
    * applied in time, robust to global gain), and pairing reuses q229's
    * banding topology verbatim ([[Dedup.aHashPairs]]: distinct-fingerprint
    * grain, band-bucket harvest, exact bit_count(xor) Hamming, complete
    * to Hamming 3 by pigeonhole). The oracle replays the closed-form PCM
    * law (PCM is lossless, so decode ≡ law) — the Spark side is the only
    * one that touches the codec. */
  private def audioFingerprintQ(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.synthesizeAudio(
      documents(s, dir), "doc_id")
    val hashes = graft.multimodal.Multimodal.audioEnergyBands(media)
    Dedup.aHashPairs(hashes, "media_id", "bands", maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  /** Video sampled-frame near-dup (q238): the video member of the
    * multimodal dedup family, through a REAL multi-frame codec — each
    * video row is a multi-page TIFF (4–8 closed-form frames,
    * [[graft.multimodal.Multimodal.synthesizeVideo]]), the ImageIO TIFF
    * reader walks the page directory and hashes every 2nd frame with the
    * q229 aHash lattice (the frame-sample contract:
    * [[graft.multimodal.Multimodal.videoFrameHashes]]), and videos pair
    * on exact fingerprint agreement at the same sampled index with the
    * match count as the overlap verifier ([[Dedup.frameSigMatches]] —
    * bucket-capped, never all-pairs). The oracle replays frame lattices
    * from the closed-form pixel law (TIFF is lossless, so decode ≡ law). */
  private def videoFrameSigQ(s: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.synthesizeVideo(
      documents(s, dir), "doc_id")
    val sigs = graft.multimodal.Multimodal.videoFrameHashes(media, stride = 2)
    Dedup.frameSigMatches(sigs, "media_id", "frame_idx", "bands")
      .orderBy("id_a", "id_b")
  }

  /** Multimodal dedup manifest (q239): the step the three modality pair
    * graphs exist for — ONE keep/drop manifest over the whole media
    * universe. Image pairs (q233's dual perceptual hash), audio pairs
    * (q237's energy-gradient fingerprint), and video pairs (q238's
    * sampled-frame matches) union into one edge list (id spaces are
    * disjoint by the doc_id % 3 modality law), fold to components with a
    * canonical keeper (min id, [[Dedup.connectedComponents]]), and join
    * back to every media row — singletons keep themselves. CC reads the
    * pair graph once, so its rounds never re-run the three decode+hash
    * pipelines. */
  /** Shared by q239/q240: the three modality pair graphs (id spaces
    * disjoint by the doc_id % 3 law) and the full-universe manifest with
    * canonical component per media row.
    *
    * The manifest runs connected components at the REPRESENTATIVE grain
    * ([[Dedup.dualHashPairGraph]]/[[Dedup.aHashPairGraph]]): the expanded
    * pair set carries Σ group² within-clique edges — quadratic in
    * exact-copy count, the dominant mass on dup-heavy corpora (the q237
    * diag reads 2.6M expanded pairs over 50 rep-grain pairs at sf1) — but
    * components are determined by the rep graph alone (rep = min member
    * id, so min-reachable-rep == min-reachable-member; pinned by a
    * differential spec). Since r13 the expansion is not materialized by
    * ANY consumer: the q240 pair audit reads the same aggregates off the
    * group grain ([[graft.operators.Splits.groupedPairSplitLeakage]] —
    * n·(n−1)/2 / |A|·|B| arithmetic on the bounded group tables), so the
    * helper returns the GRAIN tables (members, repPairs, vidPairs,
    * manifest) instead of an expanded union. Video rows are their own
    * representatives (frame-sig pairing has no exact-fingerprint
    * collapse) and their pairs stay explicit edges. */
  private def mediaPairsAndManifest(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val mm = graft.multimodal.Multimodal
    val docs = documents(s, dir)
    val (imgMembers, imgRepPairs, _) = Dedup.dualHashPairGraph(
      mm.perceptualHashBands(
        mm.synthesizeMedia(docs, "doc_id", "text")
          .filter(col("media_type") === "image")),
      "media_id", "abands", "dbands", maxHamming = 3)
    val (audMembers, audRepPairs, _) = Dedup.aHashPairGraph(
      mm.audioEnergyBands(mm.synthesizeAudio(docs, "doc_id")),
      "media_id", "bands", maxHamming = 3)
    // persisted for q240, whose split audit reads the video pairs again
    // after CC (sf0.1, 4 cores, 3 fresh-JVM pairs: 11.02 s median with the
    // persist, 11.46 s without; q239 and q243 read them once and do not
    // move beyond their spread)
    val vidPairs = graft.Caching.track(Dedup.frameSigMatches(
      mm.videoFrameHashes(mm.synthesizeVideo(docs, "doc_id"), stride = 2),
      "media_id", "frame_idx", "bands")
      .select("id_a", "id_b"))
    val repPairs = graft.Caching.track(
      imgRepPairs.unionByName(audRepPairs))
    val comps = Dedup.connectedComponents(repPairs.unionByName(vidPairs))
      .withColumnRenamed("id", "rep")
    val selfReps = docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("id"), col("doc_id").as("rep"))
    val labeled = imgMembers.unionByName(audMembers).unionByName(selfReps)
      .join(comps, Seq("rep"), "left")
      .select(col("id").as("media_id"),
        coalesce(col("component"), col("rep")).as("component"))
    val manifest = docs.select(col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"))
      .join(labeled, Seq("media_id"), "left")
      .select(col("media_id"), col("media_type"),
        coalesce(col("component"), col("media_id")).as("component"),
        (coalesce(col("component"), col("media_id")) === col("media_id"))
          .as("keep"))
    val members = imgMembers.unionByName(audMembers)
    (members, repPairs, vidPairs, manifest)
  }

  private def mediaDedupManifestQ(s: SparkSession, dir: String): DataFrame =
    mediaPairsAndManifest(s, dir)._4.orderBy("media_id")

  /** Component-keyed split audit (q240): the END of the leakage story arc
    * q231 (measure) → q234 (group law) → here (the dedup-derived group) —
    * split assignment hashed on q239's COMPONENT id, audited against the
    * row-keyed law over the same multimodal pair graph
    * ([[graft.operators.Splits.pairSplitLeakage]] with the manifest as the
    * group table). Every near-dup pair lives inside one component by
    * construction, so the group-law row reads n_cross = 0 / n_same_group
    * = n_pairs structurally — THE property that makes a dedup manifest
    * the right split key — while the doc-law row shows the leakage a
    * row-keyed split would admit on identical data.
    *
    * r13: the audit aggregates at the GROUP grain
    * ([[graft.operators.Splits.groupedPairSplitLeakage]]) — the Σ group²
    * expanded pair set is never materialized; every reported count is
    * reconstructed exactly from per-group size/train-count arithmetic
    * (differential-pinned against the expanded formulation in
    * SplitsSpec). Output identical to the expanded audit. */
  private def componentSplitQ(s: SparkSession, dir: String): DataFrame = {
    val (members, repPairs, vidPairs, manifest) = mediaPairsAndManifest(s, dir)
    graft.operators.Splits.groupedPairSplitLeakage(
      members, repPairs, vidPairs, manifest, "media_id", "component",
      trainPpm = 800000L)
      .orderBy("split_law")
  }

  /** Resize audit (q242): the resize member of the multimodal contract —
    * real decode → nearest-neighbor resample on the aHash lattice
    * convention → real PNG re-encode ([[graft.multimodal.Multimodal
    * .resizeImages]]), then the resized payloads go BACK through the real
    * decoder ([[graft.multimodal.Multimodal.decodeFeatures]]) — a full
    * encode→decode→resize→encode→decode chain where the only thing the
    * oracle shares is the closed-form pixel law at the resampled
    * coordinates (PNG is lossless at every hop). */
  private def resizeAuditQ(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val resized = mm.resizeImages(
      mm.synthesizeMedia(documents(s, dir), "doc_id", "text")
        .filter(col("media_type") === "image"),
      outW = 8, outH = 6)
    mm.decodeFeatures(resized)
      .select(col("media_id"), col("decoded_width"), col("decoded_height"),
        col("gray_sum"))
      .orderBy("media_id")
  }

  /** Quality-weighted keeper selection (q243): real curation keeps the
    * BEST duplicate, not the first — per q239 component, the keeper is
    * the member with the highest caption token count (integer, so both
    * engines replay the argmax exactly; ties break to min id via the
    * struct-max ordering). One row per component with the keeper and its
    * score — the upgrade path from q239's min-id canonical keeper. */
  private def componentKeeperQ(s: SparkSession, dir: String): DataFrame = {
    val manifest = mediaPairsAndManifest(s, dir)._4
    val toks = documents(s, dir).select(col("doc_id").as("media_id"),
      TF.tokenCount(col("text")).as("n_tokens"))
    manifest.join(toks, "media_id")
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_tokens").as("t"), (-col("media_id")).as("nid")))
          .as("m"))
      .select(col("component"), col("n_members"),
        col("m.t").as("keeper_tokens"), (-col("m.nid")).as("keeper_id"))
      .orderBy("component")
  }

  /** Clip-reuse detection (q244): the shot-reuse member of the video
    * family — q238's index-aligned matching misses re-posted footage with
    * a new intro (every frame shifts by the same delta), so this pairs on
    * fingerprint-ONLY buckets over ALL frames (stride 1 — clip detection
    * cannot skip frames), groups matches by constant index offset, and
    * reports the longest consecutive aligned run per (pair, offset) via
    * the q07 gaps-and-islands idiom ([[Dedup.clipReusePairs]]). The
    * oracle replays frame lattices from the closed-form pixel law and
    * derives runs with the same islands algebra. */
  private def clipReuseQ(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val sigs = mm.videoFrameHashes(
      mm.synthesizeVideo(documents(s, dir), "doc_id"), stride = 1)
    Dedup.clipReusePairs(sigs, "media_id", "frame_idx", "bands", minRun = 2)
      .orderBy("id_a", "id_b", "frame_offset")
  }

  /** Tag offset separating resized-derivative ids from original media ids
    * in q245's union (far above any replica id — ScaleGen's 100-copy sf10
    * tops out near 1e8). */
  private val ResizeTag = 500000000L

  /** Resize-robust image dedup (q245): a real corpus carries the same
    * image at multiple resolutions, and q233 pairs only same-lattice
    * fingerprints — here every original image is paired against the
    * corpus's RESIZED derivatives (q242's operator — real decode →
    * integer NN resample → real PNG re-encode, [[graft.multimodal
    * .Multimodal.resizeImages]]) through the SAME aHash machinery: the
    * aHash lattice samples any w×h, so original and derivative
    * fingerprint into one space and [[Dedup.aHashPairs]]' band harvest
    * finds original↔resized pairs at Hamming ≤ 3 with no resize-aware
    * code anywhere. The 16×12 thumbnail target PRESERVES the 8×8 lattice
    * geometry — the x-samples land on exactly the original's lattice
    * columns ((2i·w) div 16 = (i·w) div 8) and the y-samples within one
    * floor step — which is precisely why perceptual-hash dedup is
    * resize-robust on real thumbnails (q242's 8×6 audit target, by
    * contrast, collapses 8 lattice rows onto 6 and is a codec-audit
    * fixture, not a dedup scenario). Derivative ids carry a
    * +[[ResizeTag]] offset; each pair is labeled `self`
    * (an original with its own derivative — the recall readout),
    * `orig_orig` / `resized_resized` (within-family near-dups), or
    * `cross` (an original matching a DIFFERENT image's derivative). The
    * oracle replays the resized fingerprints from the pixel law at the
    * resample coordinates (PNG is lossless at every hop). */
  private def resizeRobustDedupQ(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val orig = mm.synthesizeMedia(documents(s, dir), "doc_id", "text")
      .filter(col("media_type") === "image")
    val origBands = mm.aHashBands(orig)
    val resizedBands = mm.aHashBands(mm.resizeImages(orig, outW = 16, outH = 12))
      .withColumn("media_id", col("media_id") + lit(ResizeTag))
    Dedup.aHashPairs(origBands.unionByName(resizedBands),
        "media_id", "bands", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming"),
        when(col("id_b") - col("id_a") === ResizeTag, "self")
          .when(col("id_b") < ResizeTag, "orig_orig")
          .when(col("id_a") >= ResizeTag, "resized_resized")
          .otherwise("cross").as("pair_kind"))
      .orderBy("id_a", "id_b")
  }

  /** Auto-sized hyperplane near-dup (q246): q33 with the band width
    * DERIVED from the corpus count ([[Dedup.autoBandBits]]: smallest
    * bits ≥ 6 with n ≤ 32·2^bits, pure integer logic both engines replay
    * exactly) — the scale path q235's occupancy probe argues for: a fixed
    * 2^6 key space has pair_work grow ~quadratically once rows outrun it
    * (137k → 13.8M across one 10×), while the derived width re-sizes the
    * key space per corpus and keeps per-bucket occupancy ~flat at every
    * scale (pinned per-scale in the bench's sf1_diag). Planes use the
    * fixed stride-24 layout so every derived width draws from one
    * deterministic plane family. */
  private def embeddingNearDupAutoQ(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairsAuto(embeddings(s, dir), "vec_id", "embedding",
      threshold = 0.3, dim = 64, numBands = 4)
      .select(col("id_a"), col("id_b"), col("cos").cast("float").as("cos"))
      .orderBy("id_a", "id_b")

  /** Audio clip reuse (q247): the audio member of the shot-reuse family —
    * q237's whole-stream fingerprint misses a re-post that starts a few
    * frames into the master (every energy shifts by the same delta), so
    * audio rows are synthesized as time-shifted re-posts
    * ([[graft.multimodal.Multimodal.synthesizeAudioClips]] — real WAV
    * codec, each clip starting `audioClipShift` whole frames into its
    * track's PCM law), decoded into per-FRAME 16-bit gradient signatures
    * ([[graft.multimodal.Multimodal.audioFrameSigs]] — the audio twin of
    * the video frame-signature table), and paired with the SAME
    * gaps-and-islands clip detector the video family uses
    * ([[Dedup.clipReusePairs]], fingerprint-only buckets, constant-offset
    * grouping, minRun 8). The oracle replays shifted energies from the
    * PCM law and the islands algebra.
    *
    * FIXED-width contrast fixture (the audio twin of q33-vs-q246): the
    * 16-bit signature space is kept static at every corpus size, so its
    * replica diag exhibits the saturation that hits any fixed signature
    * space once corpus frame mass outruns its 65k keys (match mass ~25×
    * over one 10× — chance collisions flooding the buckets). The
    * production-posture twin is q249 ([[audioClipReuseAutoQ]]), whose
    * width derives from the corpus count; excluded from 100× probes for
    * the same reason q33 is. */
  private def audioClipReuseQ(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val sigs = mm.audioFrameSigs(
      mm.synthesizeAudioClips(documents(s, dir), "doc_id"))
    Dedup.clipReusePairs(sigs, "media_id", "frame_idx", "bands", minRun = 8)
      .orderBy("id_a", "id_b", "frame_offset")
  }

  /** Auto-sized audio clip reuse (q249): q247 with the frame-signature
    * WIDTH derived from the corpus — the q246 move applied to the audio
    * family. q247's fixed 16-bit gradient signature saturates once corpus
    * frame mass outruns its 65k keys (its own diag: sig-bucket match mass
    * grows ~25× over one 10× — chance collisions flooding the buckets the
    * way q33's fixed 2^6 hyperplane space does), so here the window is
    * [[Dedup.autoBandBits]](clips · frames, 16..32 bits, occupancy 2):
    * one COUNT at plan-build time — 16 bits at sf0.1 (byte-identical
    * behavior to q247's width there), 20 at sf1, 23 at sf10 — keeping
    * expected signature-bucket occupancy (and the harvest's chance-match
    * mass) ~flat at every scale. Wider windows pack into 2×16-bit bands
    * ([[graft.multimodal.Multimodal.audioFrameSigs]]); the detector —
    * fingerprint-only buckets, constant-offset islands, minRun 8 — is
    * q247's unchanged. The oracle derives the same width from the same
    * count (pure integer logic) and replays the shifted energies. */
  private def audioClipReuseAutoQ(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val nClips = documents(s, dir).filter(col("doc_id") % 3 === 1).count()
    val window = Dedup.autoBandBits(nClips * mm.audioFrames,
      minBits = 16, maxBits = 32, targetOcc = 2)
    val sigs = mm.audioFrameSigs(
      mm.synthesizeAudioClips(documents(s, dir), "doc_id"), window)
    Dedup.clipReusePairs(sigs, "media_id", "frame_idx", "bands", minRun = 8)
      .orderBy("id_a", "id_b", "frame_offset")
  }

  /** Scene-cut detection (q248): the segmentation primitive a video
    * curation pipeline runs before per-shot sampling/dedup — videos are
    * synthesized with SHOT structure ([[graft.multimodal.Multimodal
    * .synthesizeVideoShots]]: every 3 consecutive frames repeat one
    * closed-form image, real multi-page TIFF), every frame is hashed at
    * stride 1 (a sampled table would alias shot boundaries), and
    * [[Dedup.sceneCuts]] marks a cut where consecutive fingerprints
    * differ by ≥ 8 bits — one window pass per video, shots via the q07
    * islands algebra, exact integer readouts `(n_frames, n_cuts,
    * n_shots, max_shot_len)`. The oracle replays the shot pixel law and
    * the same lag/running-sum algebra. */
  private def sceneCutsQ(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val sigs = mm.videoFrameHashes(
      mm.synthesizeVideoShots(documents(s, dir), "doc_id", shotLen = 3),
      stride = 1)
    Dedup.sceneCuts(sigs, "media_id", "frame_idx", "bands", minHamming = 8)
      .select(col("id").as("media_id"), col("n_frames"), col("n_cuts"),
        col("n_shots"), col("max_shot_len"))
      .orderBy("media_id")
  }

  /** Image↔caption dedup cells (q241): the cross-MODAL agreement
    * contingency a paired image+text corpus curates on — every candidate
    * pair classified into the three policy cells: near-dup on BOTH
    * modalities (a true duplicate asset: drop), image-only (same image
    * re-captioned: keep one image, merge captions), caption-only
    * (boilerplate caption over different images: keep, caption is the
    * dup). Image pairs are q233's dual perceptual hash; caption pairs are
    * q18's MinHash harvest restricted to the image-modality rows; one
    * full-outer join at the pair grain, three exact counts. */
  private def imageCaptionCellsQ(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val docs = documents(s, dir)
    val imgPairs = Dedup.dualHashPairs(
      mm.perceptualHashBands(
        mm.synthesizeMedia(docs, "doc_id", "text")
          .filter(col("media_type") === "image")),
      "media_id", "abands", "dbands", maxHamming = 3)
      .select(col("id_a"), col("id_b"), lit(true).as("img"))
    val capPairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
      .filter(col("id_a") % 3 === 0 && col("id_b") % 3 === 0)
      .select(col("id_a"), col("id_b"), lit(true).as("cap"))
    imgPairs.join(capPairs, Seq("id_a", "id_b"), "full_outer")
      .select(coalesce(col("img"), lit(false)).as("img"),
        coalesce(col("cap"), lit(false)).as("cap"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("img") && col("cap"), lit(1L)).otherwise(lit(0L)))
          .as("n_both"),
        sum(when(col("img") && !col("cap"), lit(1L)).otherwise(lit(0L)))
          .as("n_image_only"),
        sum(when(!col("img") && col("cap"), lit(1L)).otherwise(lit(0L)))
          .as("n_caption_only"))
  }

  /** Group-split leakage audit (q234): q231's near-dup straddle
    * measurement re-run under BOTH split laws — the row-keyed md5 split
    * and q118's GROUP-keyed (source-hashed) split — over the same q18
    * MinHash candidate pairs ([[graft.operators.Splits.pairSplitLeakage]]).
    * This is the reference check that group hashing actually removes the
    * leakage q231 measures: a same-source near-dup pair can never straddle
    * the group-law cut (both sides hash the same key), so the two rows'
    * `n_cross`/`exposure_ppm` gap IS the leakage that source-keyed
    * splitting eliminates, and `n_same_group` shows how much of the pair
    * mass that guarantee covers. */
  private def groupLeakageQ(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashCandidatePairs(documents(s, dir), "doc_id", "text",
      shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
    graft.operators.Splits.pairSplitLeakage(
      pairs, documents(s, dir), "doc_id", "source", trainPpm = 800000L)
      .orderBy("split_law")
  }

  /** Hyperplane band-bucket occupancy probe (q235): q86's occupancy
    * diagnostic applied to q33's random-hyperplane LSH harvest — one row
    * of `(n_buckets, n_vec_band_rows, max_occ, n_multi_buckets,
    * pair_work)` over the exact (band, key) buckets q33 expands
    * ([[Dedup.hyperplaneBucketStats]]). `pair_work` is the harvest's
    * expansion cost `sum(occ·(occ−1)/2)`; tracked per scale it attributes
    * q33's superlinear replica growth (band-key collision density over a
    * fixed 2^6 key space, not per-row hashing) from the artifact alone. */
  private def hyperplaneStatsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.hyperplaneBucketStats(embeddings(s, dir), "vec_id", "embedding",
      dim = 64, numBands = 4, bandBits = 6)

  /** Shared synthesis for the preference family (q250/q251): every event
    * row becomes ONE pairwise judgment over a 50-variant candidate pool,
    * derived from the portable 60-bit md5 stream so both engines replay
    * the identical corpus — `first` uniform in [0,50), `second` uniform
    * over the other 49, and the winner drawn by an exact integer
    * Bradley–Terry law with latent strength `item+1`:
    * `first` wins iff `md5h(event:pw) mod (first+second+2) < first+1`,
    * i.e. P(first wins) = (first+1)/(first+second+2). The generating law
    * IS the model q250 fits, so the fitted ordering must recover the
    * latent one; the annotator is the event's `user_id` (q251's grain).
    * No position-vs-strength confound: positions are assigned by
    * independent hash draws. */
  private[graft] def prefJudgments(s: SparkSession, dir: String): DataFrame = {
    val e = col("event_id").cast("string")
    def h(tag: String) = PortableHash.md5Hash60(concat(e, lit(tag)))
    val a = h(":pa") % 50
    val b0 = h(":pb") % 49
    val b = when(b0 >= a, b0 + 1).otherwise(b0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        a.as("first"), b.as("second"), h(":pw").as("wroll"))
      .select(col("event_id"), col("user_id"), col("first"), col("second"),
        when(col("wroll") % (col("first") + col("second") + lit(2L))
               < col("first") + lit(1L),
          col("first")).otherwise(col("second")).as("winner"))
  }

  /** Bradley–Terry preference strengths (q250): the RLHF reward-data
    * face — [[prefJudgments]]'s (winner, loser) rows fitted with
    * [[graft.operators.Preference.bradleyTerryFixedPoint]] (Hunter-2004
    * MM recurrence, 5 rounds, integer fixed point at SCALE=1e6 — the
    * q120 unrolled-fixed-point idiom, so the oracle replays every floor
    * division exactly). Output `(item, wins, score, rank)`: rank by
    * fitted strength must track the latent strength `item+1` the
    * synthesis draws from. The 100 TB posture: the judgment table
    * aggregates ONCE to |items|-bounded wins and |items|²-bounded pair
    * tables; the 5 MM rounds iterate over those aggregates only. */
  private def bradleyTerryQ(s: SparkSession, dir: String): DataFrame = {
    val j = prefJudgments(s, dir)
      .select(col("winner"),
        when(col("winner") === col("first"), col("second"))
          .otherwise(col("first")).as("loser"))
    graft.operators.Preference
      .bradleyTerryFixedPoint(j, "winner", "loser", iterations = 5)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          // bounded domain: one row per ITEM (50-variant pool), not per
          // judgment — the lit(0) key is the engine's bounded-window
          // annotation (see Sessions), not a data funnel
          .partitionBy(lit(0)).orderBy(col("score").desc, col("item")))
          .cast("long"))
      .orderBy("rank")
  }

  /** Annotator quality audit (q251): the rater-triage face of the same
    * preference corpus — per-annotator agreement with the per-pair
    * majority verdict (tie → smaller item id) and first-position win
    * counts, all integer (counts + basis points via floor division), via
    * [[graft.operators.Preference.annotatorAudit]]. One pass to the
    * unordered-pair grain (bounded by the 50-variant pool → broadcast
    * back), one pass to the annotator grain. */
  private def annotatorAuditQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Preference
      .annotatorAudit(prefJudgments(s, dir),
        "user_id", "first", "second", "winner")
      .orderBy("annotator")

  /** Preference-model calibration (q252): the reliability diagram over
    * the q250 fit — every judgment scored with the model's predicted
    * win probability for its pair's smaller item id, bucketed into 10
    * predicted-probability bins, observed lo-win rate vs mean predicted
    * per bin ([[graft.operators.Preference.calibrationCurve]], all
    * integer fixed point / basis points). Because the synthesis draws
    * winners from the exact BT law the fit estimates, the curve must
    * track the diagonal up to sampling noise — a large per-bin gap
    * localizes misfit (or rater noise) in a real corpus. The oracle
    * replays the shared BT chain (`btChainCtes`) and the same bucket
    * algebra. */
  private def prefCalibrationQ(s: SparkSession, dir: String): DataFrame = {
    // one events scan: the fit aggregates j once and the scoring pass
    // reads it again — materialize the synthesized judgments instead of
    // replaying the md5 draws per consumer
    val j = prefJudgments(s, dir)
      .select(col("winner"),
        when(col("winner") === col("first"), col("second"))
          .otherwise(col("first")).as("loser"))
      .localCheckpoint()
    val fit = graft.operators.Preference
      .bradleyTerryFixedPoint(j, "winner", "loser", iterations = 5)
    graft.operators.Preference
      .calibrationCurve(j, "winner", "loser", fit.select("item", "score"))
  }

  /** IVF index store, served (q253): q17's exact query answered from the
    * PERSISTED incremental index ([[graft.streaming.IvfIndexStream]]) —
    * frozen head-init codebook, corpus ingested in two batches into
    * `postings/batch=<id>/bucket=<b>/` partitions, then probed. The
    * store-served answer must equal the batch rebuild bit-for-bit
    * (assignment is a pure function of the frozen centroids), so the
    * oracle is q17's replay verbatim; what this row adds over q17 is
    * driver-oracled evidence that the INDEX PERSISTENCE path (partition
    * layout, bucket pruning, re-delivery guard) serves unchanged
    * answers. Builder side effect: a fresh temp directory per call
    * holds the store. */
  private def ivfIndexStoreQ(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val store = java.nio.file.Files
      .createTempDirectory("graft-ivf-store").toString
    graft.streaming.IvfIndexStream.buildCodebook(
      emb, store, "vec_id", "embedding", nlist = 16)
    graft.streaming.IvfIndexStream.processBatch(store, "vec_id", "embedding")(
      emb.filter(col("vec_id") % 2 === 0), 0L)
    graft.streaming.IvfIndexStream.processBatch(store, "vec_id", "embedding")(
      emb.filter(col("vec_id") % 2 === 1), 1L)
    graft.streaming.IvfIndexStream.query(
        s, store, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** GRPO group-relative advantage (q254): the critic-free RLHF advantage
    * (Shao et al. 2024) over a synthesized completion corpus — every
    * event is one sampled completion; its prompt group is
    * `event_id div 16` (16 completions per prompt — groups stay BOUNDED
    * as the corpus grows: more prompts, never bigger groups), and the
    * reward law is a per-group base (`(grp mod 7)·200`, the shared
    * prompt-difficulty term the advantage must strip) plus a portable
    * md5 noise draw. [[graft.operators.Preference.groupAdvantage]]
    * normalizes within groups in exact integer arithmetic (isqrt std,
    * sign-magnitude floor divisions), so per-group advantages sum to
    * ~0 and the base term cancels — the oracle replays every division.
    * One shuffle to the group key; no stats join, no second scan. */
  private def grpoAdvantageQ(s: SparkSession, dir: String): DataFrame = {
    val e = col("event_id").cast("string")
    val rewards = Tables.events(s, dir).select(
      col("event_id").cast("long").as("event_id"),
      expr("CAST(event_id AS BIGINT) div 16").as("grp"),
      (expr("CAST(event_id AS BIGINT) div 16") % 7 * 200 +
        PortableHash.md5Hash60(concat(e, lit(":rw"))) % 1000).as("reward"))
    graft.operators.Preference
      .groupAdvantage(rewards, "grp", "event_id", "reward")
      .orderBy("id")
  }

  /** Model-based quality filter, trained in-engine (q255): the fastText-
    * style learned gate of GPT-3/LLaMA data pipelines as a Spark-native
    * op — four integer quality features per document (length, stopword
    * bp, digit bp, mean token length, each floored into [0,100]), a
    * label drawn from a LINEAR probability law over those features (the
    * hard-sigmoid LR's own model family, so the fit must recover it),
    * 5 full-batch fixed-point GD rounds
    * ([[graft.operators.QualityModel.trainHardSigmoidLr]] — each round
    * ONE map-side-combined aggregate to a single row, weights travel
    * back as codegen literals), then the reliability-decile readout over
    * the scored corpus. The output pins the whole chain: any weight
    * change moves the buckets. */
  private def qualityLrQ(s: SparkSession, dir: String): DataFrame = {
    val toks = TF.tokenCount(col("text"))
    val stopHits = TF.stopwordHits(col("text"), Seq("the", "a", "and", "of"))
    val raw = documents(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      toks.as("n_tokens"),
      length(regexp_replace(col("text"), "\\s+", "")).cast("long")
        .as("n_nonspace"),
      stopHits.as("stop_hits"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[0-9]", ""))).cast("long")
        .as("n_digits"))
    val xs = raw.select(
      col("doc_id"),
      expr("least(n_tokens, 500L) div 5").as("xs1"),
      expr("stop_hits * 100L div greatest(n_tokens, 1L)").as("xs2"),
      expr("n_digits * 100L div greatest(n_chars, 1L)").as("xs3"),
      least(expr("n_nonspace div greatest(n_tokens, 1L)"), lit(100L)).as("xs4"))
    // label law: P(y=1) = clamp(15·(xs1+xs2) − 120, 0, 200)/200 — LINEAR
    // in the features (the hard-sigmoid LR's own model family, steep
    // enough that 12 rounds recover it: fitted weights land on +xs1/+xs2
    // with xs3/xs4 ~ 0 and the deciles track the diagonal)
    val lbl = xs.withColumn("y",
      when(PortableHash.md5Hash60(concat(col("doc_id").cast("string"),
            lit(":ql"))) % 200 <
          greatest(lit(0L), least(lit(200L),
            (col("xs1") + col("xs2")) * 15 - 120)),
        lit(1L)).otherwise(lit(0L)))
      .localCheckpoint()
    val fcols = Seq("xs1", "xs2", "xs3", "xs4")
    // centering is load-bearing: see QualityModel.centerFeatures
    val (centered, _) = graft.operators.QualityModel.centerFeatures(lbl, fcols)
    val w = graft.operators.QualityModel.trainHardSigmoidLr(
      centered, "y", fcols, iterations = 12, lrDen = 5L)
    graft.operators.QualityModel.reliabilityDeciles(
      graft.operators.QualityModel.scoreHardSigmoid(centered, fcols, w), "y")
  }

  /** DoReMi-style domain reweighting (q256): the data-mixture
    * optimization face (Xie et al. 2023) — per-document proxy and
    * reference losses drawn from portable md5 laws (a per-LANGUAGE base
    * term makes domains genuinely differ in excess loss; the clamp-at-0
    * excess zeroes the easy domains exactly as DoReMi's Group-DRO
    * objective does), aggregated ONCE to the bounded domain grain, then
    * 5 linearized multiplicative-weights rounds in ppm fixed point with
    * the baseline recomputed under the moving mixture
    * ([[graft.operators.Mixing.excessLossMixPpm]]). High-excess
    * domains end up-weighted, capped by the clamp; the oracle unrolls
    * the identical integer rounds. */
  private def doremiMixQ(s: SparkSession, dir: String): DataFrame = {
    val doc = col("doc_id").cast("string")
    val perDoc = documents(s, dir).select(
      col("lang"),
      (PortableHash.md5Hash60(concat(col("lang"), lit(":base"))) % 2000 +
        lit(800L) +
        PortableHash.md5Hash60(concat(doc, lit(":ls"))) % 400).as("loss"),
      (lit(1500L) +
        PortableHash.md5Hash60(concat(doc, lit(":lr"))) % 400).as("ref"))
    graft.operators.Mixing
      .excessLossMixPpm(perDoc, "lang", "loss", "ref")
      .orderBy("domain")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_pivot" -> (pricingPivot _),
    "q02_region_revenue" -> (regionRevenue _),
    "q03_effective_status" -> (effectiveStatus _),
    "q04_union_daily" -> (unionDaily _),
    "q05_trailing7" -> (trailing7 _),
    "q06_anomaly_baseline" -> (anomalyBaseline _),
    "q07_gaps_islands" -> (gapsIslands _),
    "q08_latest_dedup" -> (latestDedup _),
    "q09_top3_names" -> (top3Names _),
    "q10_screen_top_spenders" -> (screenTopSpenders _),
    "q11_median_price" -> (medianPrice _),
    "q12_pagination" -> (pagination _),
    "q13_token_stats" -> (tokenStats _),
    "q14_doc_fingerprint" -> (docFingerprint _),
    "q15_lang_id" -> (langId _),
    "q16_cosine_knn" -> (cosineKnn _),
    "q17_cosine_ivf" -> (cosineIvf _),
    "q18_minhash_pairs" -> (minhashPairs _),
    "q19_simhash" -> (simhashTable _),
    "q20_active_propagation" -> (activePropagation _),
    "q21_trailing_streak" -> (trailingStreak _),
    "q22_lag_delta" -> (lagDelta _),
    "q23_anchored_weekly" -> (anchoredWeekly _),
    "q24_pipe_series" -> (pipeSeries _),
    "q25_semi_join_scope" -> (semiJoinScope _),
    "q26_sector_baseline" -> (sectorBaseline _),
    "q27_index_rollup" -> (indexRollup _),
    "q28_topk_composite" -> (topkComposite _),
    "q29_narrative_rollup" -> (narrativeRollup _),
    "q30_control_classify" -> (controlClassify _),
    "q31_fuzzy_resolve" -> (fuzzyResolve _),
    "q32_multimodal_decode" -> (multimodalDecode _),
    "q33_embedding_neardup" -> (embeddingNearDup _),
    "q34_signal_score" -> (signalScore _),
    "q35_distinct_users" -> (distinctUsers _),
    "q36_random_sample" -> (randomSample _),
    "q37_evidence_histogram" -> (evidenceHistogram _),
    "q38_storyline_scores" -> (storylineScores _),
    "q39_lang_confusion" -> (langConfusion _),
    "q40_jaccard_verify" -> (jaccardVerify _),
    "q41_quality_score" -> (qualityScore _),
    "q42_repetition_stats" -> (repetitionStats _),
    "q43_simhash_pairs" -> (simhashPairsQ _),
    "q44_fuzzy_resolve_lev" -> (fuzzyResolveLev _),
    "q45_sector_baseline_rows" -> (sectorBaselineRows _),
    "q46_crisis_patterns" -> (crisisPatterns _),
    "q47_dedup_groups" -> (dedupGroups _),
    "q48_quantized_knn" -> (quantizedKnn _),
    "q49_chunking" -> (chunkDocs _),
    "q50_packing" -> (packDocs _),
    "q51_stratified_sample" -> (stratifiedSample _),
    "q52_asof_join" -> (asofJoinQ _),
    "q53_range_join" -> (rangeJoinQ _),
    "q54_sessionize" -> (sessionizeQ _),
    "q55_scd2_intervals" -> (scd2Q _),
    "q56_bm25_topk" -> (bm25Q _),
    "q57_profile" -> (profileQ _),
    "q58_vocab" -> (vocabQ _),
    "q59_contamination" -> (contaminationQ _),
    "q60_incremental_dedup" -> (incrementalDedupQ _),
    "q61_pii_scrub" -> (piiScrubQ _),
    "q62_quality_gate" -> (qualityGateQ _),
    "q63_domain_mix" -> (domainMixQ _),
    "q64_per_key_sample" -> (perKeySample _),
    "q65_incremental_exact" -> (incrementalExactQ _),
    "q66_bpe_tokens" -> (bpeTokensQ _),
    "q67_semantic_dedup" -> (semanticDedupQ _),
    "q68_dup_spans" -> (dupSpansQ _),
    "q69_keywords" -> (keywordsQ _),
    "q70_epoch_shards" -> (epochShardsQ _),
    "q71_weighted_sample" -> (weightedSampleQ _),
    "q72_token_ids" -> (tokenIdsQ _),
    "q73_length_batches" -> (lengthBatchesQ _),
    "q74_dup_spans_inc" -> (dupSpansIncQ _),
    "q75_interval_overlap" -> (intervalOverlapQ _),
    "q76_curation_gate" -> (curationGateQ _),
    "q77_quality_deciles" -> (qualityDecilesQ _),
    "q78_cdc_chunks" -> (cdcChunksQ _),
    "q79_chunk_dedup" -> (chunkDedupQ _),
    "q80_zorder_layout" -> (zorderLayoutQ _),
    "q81_gram_matrix" -> (gramQ _),
    "q82_profile_cat" -> (profileCatQ _),
    "q83_join_size" -> (joinSizeQ _),
    "q84_asof_forward" -> (asofForwardQ _),
    "q85_dup_span_ranges" -> (dupSpanRangesQ _),
    "q86_minhash_stats" -> (minhashStatsQ _),
    "q87_cut_spans" -> (cutSpansQ _),
    "q88_bpe_pairs" -> (bpePairsQ _),
    "q89_gopher_rules" -> (gopherRulesQ _),
    "q90_funnel" -> (funnelQ _),
    "q91_retention" -> (retentionQ _),
    "q92_heavy_hitters" -> (heavyHittersQ _),
    "q93_vocab_coverage" -> (vocabCoverageQ _),
    "q94_transitions" -> (transitionsQ _),
    "q95_rfm" -> (rfmQ _),
    "q96_funnel_inc" -> (funnelIncQ _),
    "q97_bloom_prune" -> (bloomPruneQ _),
    "q98_table_diff" -> (tableDiffQ _),
    "q99_gap_fill" -> (resampleQ _),
    "q100_iqr_outliers" -> (iqrOutliersQ _),
    "q101_frequent_pairs" -> (frequentPairsQ _),
    "q102_hash_split" -> (hashSplitQ _),
    "q103_pearson" -> (pearsonQ _),
    "q104_contingency" -> (contingencyQ _),
    "q105_blocked_resolve" -> (blockedResolveQ _),
    "q106_mad_outliers" -> (madOutliersQ _),
    "q107_sorted_neighborhood" -> (sortedNeighborhoodQ _),
    "q108_zone_map" -> (zoneMapQ _),
    "q109_expectations" -> (expectationsQ _),
    "q110_weighted_quantiles" -> (weightedQuantilesQ _),
    "q111_interval_union" -> (intervalUnionQ _),
    "q112_sessionize_inc" -> (sessionizeIncQ _),
    "q113_set_similarity" -> (setSimilarityQ _),
    "q114_ewma_chart" -> (ewmaChartQ _),
    "q115_triangles" -> (trianglesQ _),
    "q116_sa_dup_ranges" -> (saDupRangesQ _),
    "q117_collocations" -> (collocationsQ _),
    "q118_group_split" -> (groupSplitQ _),
    "q119_hybrid_rrf" -> (hybridRrfQ _),
    "q120_pagerank" -> (pageRankQ _),
    "q121_skipgram" -> (skipgramQ _),
    "q122_trunc_recall" -> (truncationRecallQ _),
    "q123_lm_familiarity" -> (lmFamiliarityQ _),
    "q124_dsir_weights" -> (dsirWeightsQ _),
    "q125_sliding_distinct" -> (slidingDistinctQ _),
    "q126_k_anonymity" -> (kAnonymityQ _),
    "q127_containment" -> (containmentJoinQ _),
    "q128_lsh_recall" -> (lshRecallQ _),
    "q129_sliding_distinct_inc" -> (slidingDistinctIncQ _),
    "q130_pq_recall" -> (pqRecallQ _),
    "q131_mutual_knn" -> (mutualKnnQ _),
    "q132_ivf_pq_recall" -> (ivfPqRecallQ _),
    "q133_knn_clusters" -> (knnClustersQ _),
    "q134_lexical_profile" -> (lexicalProfileQ _),
    "q135_attribution" -> (attributionQ _),
    "q136_dup_matrix" -> (dupMatrixQ _),
    "q137_temperature_mix" -> (temperatureMixQ _),
    "q138_semantic_decon" -> (semanticDeconQ _),
    "q139_label_prop" -> (labelPropQ _),
    "q140_tv_drift" -> (tvDriftQ _),
    "q141_ngram_novelty" -> (ngramNoveltyQ _),
    "q142_dedup_roi" -> (dedupRoiQ _),
    "q143_packing_efficiency" -> (packingEfficiencyQ _),
    "q144_skew_audit" -> (skewAuditQ _),
    "q145_simpson" -> (simpsonQ _),
    "q146_rbo" -> (rboQ _),
    "q147_shard_stability" -> (shardStabilityQ _),
    "q148_persistent_hitters" -> (persistentHittersQ _),
    "q149_source_jaccard" -> (sourceJaccardQ _),
    "q150_length_gini" -> (lengthGiniQ _),
    "q151_winnow_density" -> (winnowDensityQ _),
    "q152_winnow_pairs" -> (winnowPairsQ _),
    "q153_gate_kappa" -> (gateKappaQ _),
    "q154_length_auc" -> (lengthAucQ _),
    "q155_ks_drift" -> (ksDriftQ _),
    "q156_spearman" -> (spearmanQ _),
    "q157_benford" -> (benfordQ _),
    "q158_max_concurrency" -> (maxConcurrencyQ _),
    "q159_salted_join" -> (saltedJoinQ _),
    "q160_hilbert_locality" -> (hilbertLocalityQ _),
    "q161_gate_calibration" -> (gateCalibrationQ _),
    "q162_lsh_precision" -> (lshPrecisionQ _),
    "q163_quality_keeper" -> (qualityKeeperQ _),
    "q164_percentile_normalize" -> (percentileNormalizeQ _),
    "q165_zipf_segments" -> (zipfSegmentsQ _),
    "q166_item_cosine" -> (itemCosineQ _),
    "q167_repurchase_curve" -> (repurchaseCurveQ _),
    "q168_ks_two_sample" -> (ksTwoSampleQ _),
    "q169_minhash_calibration" -> (minhashCalibrationQ _),
    "q170_lateness_audit" -> (latenessAuditQ _),
    "q171_mutual_knn_ivf" -> (mutualKnnIvfQ _),
    "q172_kcenter_coreset" -> (kcenterQ _),
    "q173_isotonic_calibration" -> (isotonicCalQ _),
    "q174_golden_record" -> (goldenRecordQ _),
    "q175_knn_label_purity" -> (knnLabelPurityQ _),
    "q176_set_cover" -> (setCoverQ _),
    "q177_seq_trigrams" -> (seqTrigramsQ _),
    "q178_cuped" -> (cupedQ _),
    "q179_l_diversity" -> (lDiversityQ _),
    "q180_seasonal_anomaly" -> (seasonalAnomalyQ _),
    "q181_common_neighbors" -> (commonNeighborsQ _),
    "q182_aswas_asis" -> (asWasAsIsQ _),
    "q183_profile_store" -> (profileStoreQ _),
    "q184_coreset_drift" -> (coresetDriftQ _),
    "q185_tree_scoring" -> (treeScoringQ _),
    "q186_hashed_linear" -> (hashedLinearQ _),
    "q187_target_encoding" -> (targetEncodingQ _),
    "q188_rle_audit" -> (rleAuditQ _),
    "q189_bloom_fpr" -> (bloomFprQ _),
    "q190_checksum_reconcile" -> (reconcileQ _),
    "q191_view_maintenance" -> (viewMaintenanceQ _),
    "q192_join_estimate" -> (joinEstimateQ _),
    "q193_cube_rollup" -> (cubeRollupQ _),
    "q194_generalization_ladder" -> (generalizationLadderQ _),
    "q195_rare_transitions" -> (rareTransitionsQ _),
    "q196_growth_accounting" -> (growthAccountingQ _),
    "q197_stickiness" -> (stickinessQ _),
    "q198_srm_check" -> (srmCheckQ _),
    "q199_funnel_ab" -> (funnelAbQ _),
    "q200_makespan_balance" -> (makespanQ _),
    "q201_index_advisor" -> (indexAdvisorQ _),
    "q202_token_forecast" -> (tokenForecastQ _),
    "q203_cluster_silhouette" -> (clusterSilhouetteQ _),
    "q204_watermark_planner" -> (watermarkPlannerQ _),
    "q205_did_readout" -> (didQ _),
    "q206_seasonal_strength" -> (seasonalStrengthQ _),
    "q207_forecast_bands" -> (forecastBandsQ _),
    "q208_max_dup_substring" -> (maxDupSubstringQ _),
    "q209_pca_power" -> (pcaPowerQ _),
    "q210_pca_scores" -> (pcaScoresQ _),
    "q211_bootstrap_ci" -> (bootstrapCiQ _),
    "q212_skyline" -> (skylineQ _),
    "q213_token_phi" -> (tokenPhiQ _),
    "q214_hits" -> (hitsQ _),
    "q215_mmr_select" -> (mmrQ _),
    "q216_ppr" -> (pprQ _),
    "q217_assortativity" -> (assortativityQ _),
    "q218_kmeans_lloyd" -> (kmeansQ _),
    "q219_single_linkage" -> (singleLinkageQ _),
    "q220_bfs_layers" -> (bfsLayersQ _),
    "q221_matching_att" -> (matchingAttQ _),
    "q222_hdbscan_profile" -> (hdbscanProfileQ _),
    "q223_heaps_curve" -> (heapsCurveQ _),
    "q224_clustering_coeff" -> (clusteringCoeffQ _),
    "q225_stratified_ate" -> (stratifiedAteQ _),
    "q226_km_risk_table" -> (kmRiskTableQ _),
    "q227_conformal_coverage" -> (conformalCoverageQ _),
    "q228_cusum_change" -> (cusumQ _),
    "q229_phash_neardup" -> (phashNearDupQ _),
    "q230_modularity" -> (modularityQ _),
    "q231_split_leakage" -> (splitLeakageQ _),
    "q232_jl_recall" -> (jlRecallQ _),
    "q233_dhash_neardup" -> (dhashNearDupQ _),
    "q234_group_leakage" -> (groupLeakageQ _),
    "q235_hyperplane_stats" -> (hyperplaneStatsQ _),
    "q236_image_dedup_groups" -> (imageDedupGroupsQ _),
    "q237_audio_fingerprint" -> (audioFingerprintQ _),
    "q238_video_framesig" -> (videoFrameSigQ _),
    "q239_media_dedup_manifest" -> (mediaDedupManifestQ _),
    "q240_component_split" -> (componentSplitQ _),
    "q241_image_caption_cells" -> (imageCaptionCellsQ _),
    "q242_resize_audit" -> (resizeAuditQ _),
    "q243_component_keeper" -> (componentKeeperQ _),
    "q244_clip_reuse" -> (clipReuseQ _),
    "q245_resize_robust_dedup" -> (resizeRobustDedupQ _),
    "q246_hyperplane_auto" -> (embeddingNearDupAutoQ _),
    "q247_audio_clip_reuse" -> (audioClipReuseQ _),
    "q248_scene_cuts" -> (sceneCutsQ _),
    "q249_audio_clip_autosig" -> (audioClipReuseAutoQ _),
    "q250_bradley_terry" -> (bradleyTerryQ _),
    "q251_annotator_audit" -> (annotatorAuditQ _),
    "q252_pref_calibration" -> (prefCalibrationQ _),
    "q253_ivf_index_store" -> (ivfIndexStoreQ _),
    "q254_grpo_advantage" -> (grpoAdvantageQ _),
    "q255_quality_lr" -> (qualityLrQ _),
    "q256_doremi_mix" -> (doremiMixQ _)
  )

  /** For each `queries` key, equivalent DuckDB SQL — see [[OracleSql]]
    * (split out for navigability; RegistrySpec pins the 1:1 coverage). */
  def oracleSql: Map[String, String] = OracleSql.oracleSql
}
