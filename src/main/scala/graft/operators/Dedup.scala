package graft.operators

import graft.functions.{PortableHash => PH, SimilarityFunctions => S, TextFunctions => T}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operator family for training-data pipelines: exact
  * (fingerprint hash), MinHash+LSH near-dup, SimHash near-dup (table AND
  * pairing stage), and n-gram Jaccard verification — each designed so the
  * only shuffles are on hash / band keys (never an all-pairs cross join).
  *
  * Reference analogue: url_hash dedup on ingest
  * (`src/ingest_v2.py:195-222`, `src/url_utils.py:43-47`) — generalize from
  * "same canonical URL" to "same/near-same content" at corpus scale.
  *
  * 100 TB posture:
  *  - exact dedup = one hash-aggregate shuffle on the 128-bit fingerprint;
  *  - ALL LSH candidate generation (minhash bands, simhash blocks,
  *    hyperplane bands) goes through one shared shape, [[bucketPairs]]:
  *    explode to (band, key, member), harvest each bucket with ONE
  *    aggregation, expand pairs only within buckets. Shuffle volume is
  *    O(docs x bands); pair expansion is quadratic only within `maxBucket`;
  *  - every fingerprint family (MinHash, SimHash, aHash, aHash + dHash)
  *    pairs through ONE harvest, [[fingerprintPairGraph]] (exact
  *    duplicates collapse to one representative before the band harvest),
  *    and both incremental store probes are ONE [[incrementalPairs]];
  *  - hot buckets (boilerplate floods) are dropped whole by the `maxBucket`
  *    cap — the documented recall/robustness trade of production LSH dedup —
  *    so no operator here can go quadratic on skewed data.
  *
  * Two hash families (see [[graft.functions.PortableHash]]): the default
  * xxhash64 family (fastest; Spark-only) and a portable md5-based family
  * whose whole pipeline can be replayed bit-for-bit in another SQL engine
  * (our DuckDB correctness oracle uses it). Banding topology is identical.
  */
object Dedup {

  /** Exact-duplicate groups by content fingerprint: one row per distinct
    * fingerprint with the group size and the keeper (minimum id). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("fp", T.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Incremental EXACT dedup — the fingerprint-store twin of
    * [[minhashIncrementalPairs]]: a new batch is collapsed to its
    * fingerprint groups and anti-joined against the corpus's fingerprint
    * store, so only first-ever-seen content survives; the store is
    * appended, never recomputed. Returns the batch's NEW fingerprints
    * `(fp, n_docs, keep_id)` (within-batch duplicates collapse to min id,
    * same as [[exactGroups]]). At scale the store is bucketed by fp, making
    * the anti-join co-located.
    *
    * Store pruning (`pruneStore`, default on): the anti-join's right side
    * is the WHOLE store — 100 TB of fingerprints shuffled to answer a
    * question only about the batch's fps. A store row is relevant iff its
    * fp occurs in the batch, so a [[BloomPrune]] filter built over the
    * batch's fingerprints (bounded bytes at any batch size; one extra pass
    * over the BATCH, never the store) runs inside the store scan and drops
    * ~everything before the exchange. False positives merely pass extra
    * rows to the exact anti join — the result is bit-identical either way
    * (spec-pinned). The filter is sized from the batch's ACTUAL
    * fingerprint count unless a hint is given — the sketch bytes ride in
    * every task binary, so an oversized default is a per-task memory tax,
    * and an undersized one just raises fpp (still correct). */
  def incrementalExactNew(
      newDocs: DataFrame,
      storeFps: DataFrame,
      idCol: String,
      textCol: String,
      pruneStore: Boolean = true,
      expectedBatchFps: Long = -1L): DataFrame = {
    val batch = exactGroups(newDocs, idCol, textCol)
    val store = storeFps.select(col("fp"))
    val pruned =
      if (!pruneStore) store
      else {
        val items =
          if (expectedBatchFps > 0) expectedBatchFps else math.max(batch.count(), 1L)
        val bytes = BloomPrune.buildFilter(batch, col("fp"), items)
        store.where(BloomPrune.mightContain(store, bytes, col("fp")))
      }
    batch.join(pruned, Seq("fp"), "left_anti")
  }

  /** Shared LSH bucket-harvest: group `(bandCols, member)` rows by band key,
    * collect members, drop singleton and over-`maxBucket` buckets, expand
    * in-bucket pairs (i < j in collected order). Returns (m_a, m_b) member
    * structs; callers project/dedupe. One shuffle on the band key; the
    * quadratic expansion is bounded by `maxBucket` per bucket. */
  private[operators] def bucketPairs(
      banded: DataFrame,
      bandCols: Seq[Column],
      member: Column,
      maxBucket: Int): DataFrame = {
    // Per-key MEMORY bound, not just pair bound: cap membership to
    // maxBucket+1 rows BEFORE collect_list — a flooded band bucket
    // (boilerplate docs, zero vectors) would otherwise build its whole
    // member list (embedding vectors included) in one aggregation buffer
    // even though the size filter then drops it. The row_number window
    // hash-partitions on the same band key as the aggregate below, so the
    // cap adds an in-partition sort but no extra Exchange; keeping
    // maxBucket+1 rows preserves the over-cap signal, so the size filter
    // still drops flooded buckets whole — bucket survival is bit-identical
    // to the uncapped formulation.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(bandCols: _*).orderBy(monotonically_increasing_id())
    val capped = banded
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBucket + 1)
    val buckets = capped.groupBy(bandCols: _*)
      .agg(collect_list(member).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    buckets.select(explode(flatten(
      transform(col("members"), (m, i) =>
        transform(
          slice(col("members"), i + lit(2), size(col("members")) - i - 1),
          m2 => struct(m.as("a"), m2.as("b")))))).as("p"))
      .select(col("p.a").as("m_a"), col("p.b").as("m_b"))
  }

  /** The one near-dup harvest every fingerprint family (MinHash, SimHash,
    * aHash, aHash + dHash) pairs through: collapse → band → verify →
    * expand. `fp` is `(id, keyCols…)`; `bandKeys` is an array expression
    * over the key columns whose positions are the bands; `verify` maps the
    * two fingerprint structs (fields = `keyCols`) to named metrics, `keep`
    * filters on them, and `exact` gives the metrics' values for two ids of
    * one exact-duplicate group.
    *
    * Exact-duplicate collapse: identical fingerprints land together in
    * every band bucket and would expand quadratically in each, so the
    * harvest runs over one representative per distinct fingerprint (`rep`
    * = the group's min id) and the id groups re-expand afterwards — the
    * quadratic stage shrinks from ids² to fingerprints² per bucket.
    * `maxBucket` caps two grains: distinct fingerprints per band bucket
    * ([[bucketPairs]]) and ids per group (same capped collect; an over-cap
    * duplication flood is dropped whole — its quadratic pair set belongs
    * in a group representation, not a pair list). Rep pairs are
    * canonicalized (`least`/`greatest`) before the band-duplicate
    * `distinct`, so the pair set does not depend on member order.
    *
    * Returns `(members, repPairs, pairs)`: `members` is `(id, rep)` for
    * every grouped id; `repPairs` is the verified cross-group pair set at
    * the representative grain `(id_a, id_b)`; `pairs` is the expanded
    * `(id_a, id_b, metrics…)` output, `id_a < id_b`, unique by
    * construction (each id has one fingerprint, cross and within pairs
    * are disjoint). Connected components need only the rep grain: rep =
    * min member, so min-reachable-rep == min-reachable-member, and the
    * Σ group² within-clique edges are never traversed. */
  private def fingerprintPairGraph(
      fp: DataFrame,
      keyCols: Seq[String],
      bandKeys: Column,
      verify: (Column, Column) => Seq[(String, Column)],
      keep: Column,
      exact: Seq[Column],
      maxBucket: Int): (DataFrame, DataFrame, DataFrame) = {
    val keys = keyCols.map(col)
    val wcap = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(monotonically_increasing_id())
    val groups = graft.Caching.track(
      fp.withColumn("__rn", row_number().over(wcap))
        .filter(col("__rn") <= maxBucket + 1)
        .groupBy(keys: _*).agg(sort_array(collect_list(col("id"))).as("ids"))
        .filter(size(col("ids")) <= maxBucket)
        .withColumn("rep", element_at(col("ids"), 1)))
    val banded = groups.select(col("rep"), posexplode(bandKeys).as(Seq("bno", "bk")))
    val repPairs = bucketPairs(banded, Seq(col("bno"), col("bk")), col("rep"), maxBucket)
      .select(least(col("m_a"), col("m_b")).as("ra"),
        greatest(col("m_a"), col("m_b")).as("rb"))
      .distinct()
    def side(s: String): DataFrame = groups.select(col("rep").as(s"r$s"),
      col("ids").as(s"i$s"), struct(keys: _*).as(s"f$s"))
    val metrics = verify(col("fa"), col("fb"))
    val verified = repPairs.join(side("a"), "ra").join(side("b"), "rb")
      .select(Seq(col("ra"), col("rb"), col("ia"), col("ib")) ++
        metrics.map { case (n, c) => c.as(n) }: _*)
      .filter(keep)
    val names = metrics.map(_._1)
    val cross = verified.select(
      explode(flatten(transform(col("ia"), a =>
        transform(col("ib"), b => struct(a.as("x"), b.as("y")))))).as("p") +:
        names.map(col): _*)
      .select(least(col("p.x"), col("p.y")).as("id_a") +:
        greatest(col("p.x"), col("p.y")).as("id_b") +: names.map(col): _*)
    // within-group pairs: ids are pre-sorted, so x < y
    val within = groups.filter(size(col("ids")) >= 2)
      .select(explode(flatten(
        transform(col("ids"), (a, i) =>
          transform(slice(col("ids"), i + lit(2), size(col("ids")) - i - 1),
            b => struct(a.as("x"), b.as("y")))))).as("p"))
      .select(col("p.x").as("id_a") +: col("p.y").as("id_b") +:
        names.zip(exact).map { case (n, c) => c.as(n) }: _*)
    (groups.select(explode(col("ids")).as("id"), col("rep")),
      verified.select(col("ra").as("id_a"), col("rb").as("id_b")),
      cross.unionByName(within))
  }

  /** The one incremental probe beside [[fingerprintPairGraph]]: a new
    * batch's band rows `(id, fpCols…, bno, bk)` probe the accumulated band
    * store (never recomputed) and only pairs with AT LEAST ONE new side
    * are emitted. The batch's band keys are small, so a broadcast
    * semi-join prunes the store scan to the touched buckets (partition
    * pruning when the store is partitioned by band key).
    *
    * Bucket survival (2 ≤ members ≤ maxBucket) is evaluated over the FULL
    * membership (store + batch) of each touched bucket, so the emitted
    * pairs are exactly `pairs(store ∪ new) − pairs(store)` while buckets
    * stay under the cap. A bucket pushed OVER maxBucket by the batch emits
    * nothing now, but its old-old pairs were emitted by an earlier run and
    * are not retracted (dedup decisions are append-only downstream). The
    * store is id-grained, so `maxBucket` counts raw rows here where the
    * one-shot harvest counts distinct fingerprints; near the cap on a
    * duplicate-flooded bucket the two can drop different pairs. An id
    * present in both the batch and the store (a replayed batch) shares
    * every bucket with itself; the `id ≠ id` guard keeps that self-pair
    * out. */
  private def incrementalPairs(
      newBand: DataFrame,
      storeBand: DataFrame,
      fpCols: Seq[String],
      verify: (Column, Column) => Seq[(String, Column)],
      keep: Column,
      maxBucket: Int): DataFrame = {
    val tagged = storeBand.withColumn("__new", lit(false))
      .unionByName(newBand.withColumn("__new", lit(true)))
    val touched = tagged.join(
      broadcast(newBand.select("bno", "bk").distinct()), Seq("bno", "bk"), "left_semi")
    bucketPairs(touched, Seq(col("bno"), col("bk")),
      struct(col("id"), struct(fpCols.map(col): _*).as("fp"), col("__new")), maxBucket)
      .filter((col("m_a.__new") || col("m_b.__new")) && col("m_a.id") =!= col("m_b.id"))
      .select(least(col("m_a.id"), col("m_b.id")).as("id_a") +:
        greatest(col("m_a.id"), col("m_b.id")).as("id_b") +:
        verify(col("m_a.fp"), col("m_b.fp")).map { case (n, c) => c.as(n) }: _*)
      .filter(keep)
      .distinct()
  }

  /** Exact Hamming distance between two `nBands`-long arrays of 16-bit
    * band integers. */
  private def bandHamming(a: Column, b: Column, nBands: Int): Column =
    (0 until nBands).map(i =>
      bit_count(element_at(a, i + 1).bitwiseXOR(element_at(b, i + 1)))).reduce(_ + _)
      .cast("long")

  /** MinHash-LSH near-duplicate candidate pairs with estimated Jaccard.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated across
    * bands. Only pairs sharing >=1 LSH band collide; the estimate comes from
    * full-signature agreement.
    *
    * `portable = true` switches the hash family to md5Hash60 + affine
    * permutations (cross-engine-replayable, ~2x the hashing cost); the
    * banding/harvest topology — the scale-critical part — is identical.
    */
  def minhashCandidatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      rowsPerBand: Int = 4,
      maxBucket: Int = 1000,
      portable: Boolean = false): DataFrame =
    minhashCandidatePairsFromSigs(
      minhashSigs(docs, idCol, textCol, shingleSize, numHashes, portable),
      numHashes, rowsPerBand, maxBucket, portable)

  /** [[minhashCandidatePairs]] starting from a precomputed `(id, sig)`
    * table — the entry point for callers that band the SAME signatures
    * several ways (the q128 rows-per-band ablation): the md5+min-agg
    * signature pass is the expensive corpus scan, banding is cheap. */
  def minhashCandidatePairsFromSigs(
      sigs: DataFrame,
      numHashes: Int,
      rowsPerBand: Int,
      maxBucket: Int = 1000,
      portable: Boolean = false): DataFrame =
    // exact duplicates share a signature: within-group pairs estimate 1.0
    fingerprintPairGraph(sigs.select(col("id"), col("sig")), Seq("sig"),
      bandKeys(numHashes, rowsPerBand, portable),
      (a, b) => Seq("est_jaccard" -> sigAgreement(a("sig"), b("sig"), numHashes)),
      lit(true), Seq(lit(1.0)), maxBucket)._3

  /** Band-bucket occupancy probe for the minhash pair harvest — the LSH
    * twin of [[SkewJoin.joinSizeEstimate]]: the harvest's expansion work is
    * `sum(occ * (occ-1) / 2)` over (band, key) buckets at the
    * distinct-signature grain (exactly what [[minhashCandidatePairs]]
    * expands), so this one-row probe says how pair cost will scale BEFORE
    * committing the run. `pair_work` growing faster than corpus size means
    * bucket occupancy (near-dup density / band collision rate), not
    * per-row cost, is the driver — the knob is more bands (smaller
    * collision rate per band) or a tighter `maxBucket`. */
  def minhashBucketStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      rowsPerBand: Int = 4,
      portable: Boolean = false): DataFrame = {
    val distinctSigs =
      minhashSigs(docs, idCol, textCol, shingleSize, numHashes, portable)
        .select("sig").distinct()
    bucketCensus(bandify(distinctSigs, numHashes, rowsPerBand, portable), "n_sig_band_rows")
  }

  /** The one-row band-bucket census every cost probe reads: over the
    * `(bno, bk)` occupancy of `banded`, `(n_buckets, <bandRows>, max_occ,
    * n_multi_buckets, pair_work)` with `pair_work` = Σ occ·(occ−1)/2, the
    * in-bucket pair expansion a harvest would pay. */
  private def bucketCensus(banded: DataFrame, bandRows: String): DataFrame = {
    val occ = banded.groupBy("bno", "bk").agg(count(lit(1)).as("occ"))
    occ.agg(
      count(lit(1)).as("n_buckets"),
      sum(col("occ")).as(bandRows),
      max(col("occ")).as("max_occ"),
      sum(when(col("occ") >= 2, lit(1L)).otherwise(lit(0L))).as("n_multi_buckets"),
      // occ*(occ-1) is even, so the halved double is integer-exact
      sum((col("occ") * (col("occ") - lit(1L))) / lit(2.0)).cast("long")
        .as("pair_work"))
  }

  /** The persistable MinHash signature/band table `(id, sig, bno, bk)` — the
    * "signature store" of an incremental dedup pipeline: write it once per
    * corpus, append per batch, and candidate pairs for new data come from
    * [[minhashIncrementalPairs]] without ever re-hashing the corpus. */
  def minhashBandTable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      rowsPerBand: Int = 4,
      portable: Boolean = false): DataFrame =
    bandify(minhashSigs(docs, idCol, textCol, shingleSize, numHashes, portable),
      numHashes, rowsPerBand, portable)

  /** The MinHash signature table `(id, sig)`.
    *
    * Signature pipeline: shingle hashes computed in-place on the scan,
    * exploded, then numHashes codegen'd min-aggregates — ONE shuffle (the
    * group-by on doc id) for the whole stage. No distinct pass: min over a
    * multiset equals min over the set, so duplicate shingles cost nothing
    * (a prior array_distinct here was 5x the cost of the hashing itself).
    * A window-lead relational variant benches identically at sf0.1 but
    * adds a shuffle — in-place wins at corpus scale. */
  def minhashSigs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      portable: Boolean = false): DataFrame = {
    val hashed =
      if (portable)
        docs.select(col(idCol).as("id"),
          explode(S.tokenShingles(col(textCol), shingleSize)).as("s"))
          .select(col("id"), PH.md5Hash60(col("s")).as("h"))
      else
        docs.select(col(idCol).as("id"),
          explode(S.tokenShingleHashes(col(textCol), shingleSize)).as("h"))
    val minAggs = (0 until numHashes).map { i =>
      val perm = if (portable) PH.affine31(i, col("h")) else xxhash64(lit(i), col("h"))
      min(perm).as(s"m$i")
    }
    hashed.groupBy("id").agg(minAggs.head, minAggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** The band keys of a `sig` column, one array element per band: the
    * portable family keeps the raw component CSV (engine replayable); the
    * default compresses each band to one xxhash64. */
  private def bandKeys(numHashes: Int, rowsPerBand: Int, portable: Boolean): Column =
    array((0 until numHashes / rowsPerBand).map { b =>
      val csv = array_join(
        transform(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
          x => x.cast("string")), ",")
      if (portable) csv else xxhash64(lit(b), csv).cast("string")
    }: _*)

  /** Explode a signature-carrying frame into per-band rows `(…, bno, bk)`. */
  private def bandify(
      withSig: DataFrame,
      numHashes: Int,
      rowsPerBand: Int,
      portable: Boolean): DataFrame =
    withSig.select(withSig.columns.map(col) :+ posexplode(
      bandKeys(numHashes, rowsPerBand, portable)).as(Seq("bno", "bk")): _*)

  /** Signature-agreement Jaccard estimate between two minhash signatures. */
  private def sigAgreement(a: Column, b: Column, numHashes: Int): Column =
    ((0 until numHashes).map(i =>
      when(element_at(a, i + 1) === element_at(b, i + 1), lit(1)).otherwise(lit(0)))
      .reduce(_ + _).cast("double") / numHashes.toDouble)

  /** Incremental MinHash near-dup candidates: the corpus's band table
    * ([[minhashBandTable]], persisted as the signature store) is probed by
    * a batch's band rows through [[incrementalPairs]], never recomputed —
    * how a 100 TB corpus absorbs a daily increment. Emits exactly
    * `minhashCandidatePairs(store ∪ new) − minhashCandidatePairs(store)`
    * while buckets stay under `maxBucket` (pinned in PipelineOpsSpec). */
  def minhashIncrementalPairs(
      newBand: DataFrame,
      storeBand: DataFrame,
      numHashes: Int = 32,
      maxBucket: Int = 1000): DataFrame =
    incrementalPairs(newBand, storeBand, Seq("sig"),
      (a, b) => Seq("est_jaccard" -> sigAgreement(a("sig"), b("sig"), numHashes)),
      lit(true), maxBucket)

  /** Exact n-gram Jaccard for given candidate pairs (verification pass after
    * LSH): joins shingle sets back and computes true Jaccard. */
  def verifyJaccard(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val sets = docs.select(col(idCol).as("id"),
      array_distinct(S.tokenShingles(col(textCol), shingleSize)).as("sh"))
    pairs
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"), S.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** SimHash bit width per family: 64 (xxhash64) / 60 (portable md5Hash60 —
    * masked to 2^60 so every engine's signed BIGINT holds it). */
  def simhashBits(portable: Boolean): Int = if (portable) 60 else 64

  /** SimHash table: per-doc simhash fingerprint plus the top prefix block as
    * a coarse bucket. Near-dups (small Hamming distance) mostly share prefix
    * blocks; [[simhashPairs]] is the full pairing stage.
    *
    * Relational formulation (explode tokens -> per-bit codegen'd
    * conditional-sum aggregates -> bit reassembly) rather than a
    * higher-order expression: HOF lambdas are interpreted and were ~5x
    * slower at bench scale. One shuffle on the doc id with map-side partial
    * aggregation. */
  def simhashTable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      portable: Boolean = false): DataFrame = {
    val bits = simhashBits(portable)
    val toks = docs.select(col(idCol).as("id"),
      explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
    // Hash per DISTINCT (doc, token), not per occurrence: the bit balance
    // over the token multiset equals the count-weighted balance over the
    // token set, and natural-language repetition makes distinct tokens a
    // small fraction of occurrences — one extra map-side-combined shuffle
    // (distinct pairs only) buys an occurrences/distinct reduction of the
    // md5 work AND of the 60 conditional sums. (On the synthetic bench
    // corpus the end-to-end q43 win is small — its cost is dominated by
    // the in-bucket pair harvest, which the tiny 30-word vocabulary makes
    // pathologically dense — but signature build time is what scales with
    // corpus size on natural text.)
    val cnts = toks.groupBy("id", "tok").agg(count(lit(1)).as("c"))
    val hashed = cnts.select(col("id"),
      (if (portable) PH.md5Hash60(col("tok")) else xxhash64(col("tok"))).as("h"),
      col("c"))
    val balances = (0 until bits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, col("c")).otherwise(-col("c")))
        .as(s"b$i")
    }
    hashed.groupBy("id").agg(balances.head, balances.tail: _*)
      .select(col("id"),
        (0 until bits).map(i =>
          when(col(s"b$i") > 0L, lit(1L << i)).otherwise(0L)).reduce(_ bitwiseOR _)
          .as("simhash"))
      .withColumn("bucket", shiftrightunsigned(col("simhash"), bits - bits / 4))
  }

  /** SimHash near-dup pairing: rotated prefix-block tables. The `bits`-wide
    * simhash splits into 4 blocks; by pigeonhole any pair within Hamming
    * distance 3 agrees on at least one whole block, so bucketing each block
    * (4 band tables through [[bucketPairs]]) finds EVERY such pair — then an
    * exact `bit_count(xor)` filter keeps true ones. Complete for
    * maxHamming <= 3; higher thresholds would need more blocks.
    *
    * The harvest is [[fingerprintPairGraph]]: exact duplicates collapse
    * to one representative per distinct fingerprint (within-group pairs
    * are Hamming 0), and `maxBucket` caps distinct fingerprints per block
    * bucket and ids per exact-dup group.
    *
    * Input: output of [[simhashTable]] (id, simhash). Output:
    * (id_a, id_b, hamming), id_a < id_b, hamming <= maxHamming.
    */
  def simhashPairs(
      sims: DataFrame,
      bits: Int = 64,
      maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame = {
    require(maxHamming <= 3, "4 prefix blocks are complete only to Hamming 3")
    val blockBits = bits / 4
    val mask = (1L << blockBits) - 1
    val blockKeys = array((0 until 4).map { j =>
      shiftrightunsigned(col("simhash"), blockBits * j).bitwiseAND(lit(mask))
    }: _*)
    fingerprintPairGraph(sims.select(col("id"), col("simhash")), Seq("simhash"),
      blockKeys,
      (a, b) => Seq("hamming" ->
        bit_count(a("simhash").bitwiseXOR(b("simhash"))).cast("long")),
      col("hamming") <= maxHamming, Seq(lit(0L)), maxBucket)._3
  }

  /** Perceptual-hash image near-dup pairing: fingerprints are aHash band
    * arrays ([[graft.multimodal.Multimodal.aHashBands]], `grid²/16` ints
    * of 16 bits each), banding IS the band split (by pigeonhole any pair
    * within Hamming `maxHamming ≤ nBands − 1` agrees on ≥ 1 whole band, so
    * with 4 bands the candidate harvest is COMPLETE to Hamming 3), and the
    * verifier is exact `bit_count(xor)` per band. The harvest is
    * [[fingerprintPairGraph]]: exact-duplicate images (crops/re-encodes of
    * one asset flood real corpora) collapse to one representative, and
    * `maxBucket` caps bucket occupancy and group size. Never an all-pairs
    * join.
    *
    * Input: `(idCol, bandsCol array<int>)`. Output:
    * `(id_a, id_b, hamming)`, `id_a < id_b`, `hamming ≤ maxHamming`. */
  def aHashPairs(
      hashes: DataFrame,
      idCol: String,
      bandsCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 10000,
      nBands: Int = 4): DataFrame =
    aHashPairGraph(hashes, idCol, bandsCol, maxHamming, maxBucket, nBands)._3

  /** Rep-grain decomposition of [[aHashPairs]]: [[fingerprintPairGraph]]'s
    * `(members, repPairs, pairs)`. Dedup GROUP consumers (the q239
    * manifest) run CC on `repPairs` and label members through `members`;
    * only pair AUDITS (q240) pay for the expansion (`pairs` is lazy —
    * never executed unless consumed). */
  def aHashPairGraph(
      hashes: DataFrame,
      idCol: String,
      bandsCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 10000,
      nBands: Int = 4): (DataFrame, DataFrame, DataFrame) = {
    require(maxHamming >= 0 && maxHamming < nBands,
      s"$nBands bands are complete only to Hamming ${nBands - 1}")
    fingerprintPairGraph(hashes.select(col(idCol).as("id"), col(bandsCol).as("bands")),
      Seq("bands"), col("bands"),
      (a, b) => Seq("hamming" -> bandHamming(a("bands"), b("bands"), nBands)),
      col("hamming") <= maxHamming, Seq(lit(0L)), maxBucket)
  }

  /** Banded perceptual-fingerprint band table — [[aHashPairs]]'s bucketing
    * grain materialized as one row per (id, band), carrying the full band
    * array for the exact-Hamming verify stage (the aHash twin of
    * [[minhashBandTable]]; the persisted store format of the streaming
    * media dedup). */
  def aHashBandTable(
      hashes: DataFrame,
      idCol: String,
      bandsCol: String): DataFrame =
    hashes.select(col(idCol).as("id"), col(bandsCol).as("bands"))
      .select(col("id"), col("bands"), posexplode(col("bands")).as(Seq("bno", "bk")))

  /** Incremental perceptual-hash pairing: new fingerprints probe the
    * accumulated aHash band store ([[aHashBandTable]]) through
    * [[incrementalPairs]], verified with exact `bit_count(xor)` Hamming —
    * so the telescoping union of per-batch emissions equals the one-shot
    * [[aHashPairs]] batch set while buckets stay under both caps (pinned
    * in StreamingSpec). */
  def aHashIncrementalPairs(
      newBand: DataFrame,
      storeBand: DataFrame,
      maxHamming: Int = 3,
      maxBucket: Int = 10000,
      nBands: Int = 4): DataFrame =
    incrementalPairs(newBand, storeBand, Seq("bands"),
      (a, b) => Seq("hamming" -> bandHamming(a("bands"), b("bands"), nBands)),
      col("hamming") <= maxHamming, maxBucket)

  /** Cross-grid perceptual near-dup pairing — [[aHashPairs]] extended to
    * TWO fingerprint families per image (aHash + dHash,
    * [[graft.multimodal.Multimodal.perceptualHashBands]]): candidates come
    * from the UNION of both hashes' band buckets, so a pair survives
    * whenever EITHER family survives the edit (brightness/contrast drift
    * kills aHash bits near the mean but leaves dHash's gradient signs
    * alone — the classic aHash failure mode). A pair is emitted when its
    * exact Hamming distance on EITHER hash is ≤ `maxHamming`; both
    * distances are reported so the caller can see which family matched.
    *
    * Completeness: by pigeonhole, a pair within Hamming `maxHamming ≤
    * nBands − 1` on hash X agrees on ≥ 1 whole band of X, and every band
    * of both hashes is bucketed — so the union harvest is complete for the
    * `least(hamming_a, hamming_d) ≤ maxHamming` gate.
    *
    * The harvest is [[fingerprintPairGraph]] at the COMBINED (abands,
    * dbands) fingerprint grain; the band split doubles from 4 to 8
    * buckets per image — 2× harvest rows, never an all-pairs join.
    *
    * Input: `(idCol, aCol array<int>, dCol array<int>)`. Output:
    * `(id_a, id_b, hamming_a, hamming_d)`, `id_a < id_b`,
    * `least(hamming_a, hamming_d) ≤ maxHamming`. */
  def dualHashPairs(
      hashes: DataFrame,
      idCol: String,
      aCol: String,
      dCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 10000,
      nBands: Int = 4): DataFrame =
    dualHashPairGraph(hashes, idCol, aCol, dCol, maxHamming, maxBucket, nBands)._3

  /** Rep-grain decomposition of [[dualHashPairs]] — see
    * [[fingerprintPairGraph]] for the grains and why CC consumers want
    * them: `(members, repPairs, pairs)` at the COMBINED (abands, dbands)
    * fingerprint grain. */
  def dualHashPairGraph(
      hashes: DataFrame,
      idCol: String,
      aCol: String,
      dCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 10000,
      nBands: Int = 4): (DataFrame, DataFrame, DataFrame) = {
    require(maxHamming >= 0 && maxHamming < nBands,
      s"$nBands bands per family are complete only to Hamming ${nBands - 1}")
    // band families share one bucket key space: bno 0..nBands-1 = aHash
    // bands, nBands..2*nBands-1 = dHash bands — the union harvest is one
    // posexplode over the concatenated band arrays
    fingerprintPairGraph(
      hashes.select(col(idCol).as("id"), col(aCol).as("ab"), col(dCol).as("db")),
      Seq("ab", "db"), concat(col("ab"), col("db")),
      (a, b) => Seq(
        "hamming_a" -> bandHamming(a("ab"), b("ab"), nBands),
        "hamming_d" -> bandHamming(a("db"), b("db"), nBands)),
      least(col("hamming_a"), col("hamming_d")) <= maxHamming,
      Seq(lit(0L), lit(0L)), maxBucket)
  }

  /** Cost probe for the dual-hash (aHash ∪ dHash) harvest — BOTH grains
    * of [[dualHashPairs]]'s work, because they scale independently:
    *
    *  - distinct-FINGERPRINT grain (what the band buckets see):
    *    `pair_work` = Σ occ·(occ−1)/2 over (band, key) buckets of
    *    distinct (a, d) fingerprints — the representative-pair expansion
    *    cost. On a replica of byte-identical image copies this stays
    *    FLAT: exact duplicates collapse to one representative before the
    *    quadratic stage, by design.
    *  - IMAGE grain: `exact_dup_pairs` = Σ cnt·(cnt−1)/2 over fingerprint
    *    groups — the size of the within-group output the operator must
    *    EMIT. A replica that multiplies identical images grows this
    *    ~quadratically with copy count; a time ratio below this growth is
    *    sub-output-linear, i.e. the pairing stage is not the bottleneck,
    *    the answer's own mass is.
    *
    * Output: `(n_images, n_fingerprints, exact_dup_pairs, n_buckets,
    * n_fp_band_rows, max_occ, n_multi_buckets, pair_work)`. */
  def dualHashBucketStats(
      hashes: DataFrame,
      aCol: String,
      dCol: String): DataFrame =
    fingerprintCensus(hashes.select(col(aCol).as("ab"), col(dCol).as("db")),
      concat(col("ab"), col("db")), "n_images", "n_fp_band_rows")

  /** Both grains of a fingerprint harvest's work: `(<nRows>,
    * n_fingerprints, exact_dup_pairs)` over the exact-fingerprint groups
    * of `fp` (every column is the fingerprint), crossed with the
    * [[bucketCensus]] of one `bandKeys` explode per distinct fingerprint. */
  private def fingerprintCensus(
      fp: DataFrame, bandKeys: Column, nRows: String, bandRows: String): DataFrame = {
    val groups = fp.groupBy(fp.columns.map(col): _*).agg(count(lit(1)).as("cnt"))
    val grain = groups.agg(
      sum(col("cnt")).as(nRows),
      count(lit(1)).as("n_fingerprints"),
      sum((col("cnt") * (col("cnt") - lit(1L))) / lit(2.0)).cast("long")
        .as("exact_dup_pairs"))
    grain.crossJoin(bucketCensus(
      groups.select(posexplode(bandKeys).as(Seq("bno", "bk"))), bandRows))
  }

  /** Cost probe for a single-family banded-hash harvest ([[aHashPairs]]'s
    * work — the audio fingerprint q237 and image aHash q229 both pair
    * through it): the [[dualHashBucketStats]] twin over ONE band array.
    * `exact_dup_pairs` is the within-group output mass the operator must
    * EMIT (quadratic in exact-copy count — a replica artifact when the
    * fingerprint key space is fixed); `pair_work` is the representative-
    * grain bucket expansion cost, which stays FLAT when copies collapse
    * to one representative. Output: `(n_rows, n_fingerprints,
    * exact_dup_pairs, n_buckets, n_band_rows, max_occ, n_multi_buckets,
    * pair_work)`. */
  def aHashBucketStats(
      hashes: DataFrame,
      bandsCol: String): DataFrame =
    fingerprintCensus(hashes.select(col(bandsCol).as("bands")), col("bands"),
      "n_rows", "n_band_rows")

  /** Video near-dup pairing over sampled-frame signatures — exact-match
    * containment at the (frame index, frame fingerprint) grain: two videos
    * are candidates whenever a sampled frame hashes identically at the
    * SAME sampled index ([[graft.multimodal.Multimodal.videoFrameHashes]]
    * emits the signature table). The match count doubles as the verifier —
    * `n_match` of `min(n_a, n_b)` aligned frames is the overlap readout a
    * curation gate thresholds on.
    *
    * Scale posture: the harvest is [[bucketPairs]] over (frame_idx, bands)
    * buckets — flooded buckets (a black frame shared by half the corpus)
    * are dropped whole at `maxBucket`, never an all-pairs join; per-video
    * frame counts come from one aggregate of the same signature table.
    *
    * Output: `(id_a, id_b, n_match, n_a, n_b)`, `id_a < id_b`, one row per
    * video pair sharing ≥ 1 surviving frame bucket. */
  def frameSigMatches(
      sigs: DataFrame,
      idCol: String,
      frameCol: String,
      bandsCol: String,
      maxBucket: Int = 10000): DataFrame = {
    val s = sigs.select(col(idCol).as("id"), col(frameCol).as("f"),
      col(bandsCol).as("bands"))
    val matches = bucketPairs(s, Seq(col("f"), col("bands")), col("id"), maxBucket)
      .select(least(col("m_a"), col("m_b")).as("id_a"),
        greatest(col("m_a"), col("m_b")).as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_match"))
    val counts = s.groupBy("id").agg(count(lit(1)).as("n"))
    matches
      .join(counts.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(counts.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .select("id_a", "id_b", "n_match", "n_a", "n_b")
  }

  /** Clip-reuse detection over per-frame signatures — the shot-reuse
    * primitive: two videos share a CLIP when a run of frames matches at a
    * constant index offset (re-posted footage with a new intro shifts
    * every frame by the same delta, which index-aligned matching
    * ([[frameSigMatches]]) misses entirely). Candidates come from
    * fingerprint-only buckets (no index in the key), each cross-video
    * frame match contributes to its pair's OFFSET group, and the longest
    * consecutive run per (pair, offset) is the q07 gaps-and-islands idiom
    * over frame indices.
    *
    * Scale posture: [[bucketPairs]] over hash buckets (flood-capped, never
    * all-pairs); the islands window partitions by (pair, offset) — bounded
    * by matched-frame mass, not video count.
    *
    * Output: `(id_a, id_b, frame_offset, n_aligned, max_run)`, `id_a <
    * id_b`, one row per (pair, offset) whose longest aligned run reaches
    * `minRun`. `frame_offset` = frame index in `id_b` minus the matching
    * index in `id_a`.
    *
    * `sigStride` declares the sampling stride of the INPUT signature
    * table (1 for every frame — the clip-detection default; q238's
    * sampled table is stride 2). The islands algebra needs consecutive
    * integers, so frame indices are divided by the stride first — offsets
    * and runs are then in SAMPLED-frame units — and indices that are not
    * multiples of the stride fail loudly rather than silently fragmenting
    * every run to length 1 (the failure mode of feeding a sampled table
    * to the old stride-1-only formulation). */
  def clipReusePairs(
      sigs: DataFrame,
      idCol: String,
      frameCol: String,
      bandsCol: String,
      minRun: Int = 2,
      maxBucket: Int = 10000,
      sigStride: Int = 1): DataFrame = {
    require(minRun >= 1, "minRun must be positive")
    require(sigStride >= 1, "sigStride must be positive")
    val fNorm =
      if (sigStride == 1) col(frameCol)
      else when(col(frameCol) % sigStride === 0,
        (col(frameCol).cast("long") / sigStride).cast("int"))
        .otherwise(raise_error(concat(
          lit(s"clipReusePairs: frame index not a multiple of sigStride=$sigStride: "),
          col(frameCol).cast("string"))))
    val s = sigs.select(col(idCol).as("id"), fNorm.as("f"),
      col(bandsCol).as("bands"))
    val aligned = bucketPairs(s, Seq(col("bands")),
      struct(col("id"), col("f")), maxBucket)
      .filter(col("m_a.id") =!= col("m_b.id"))
      .select(
        least(col("m_a.id"), col("m_b.id")).as("id_a"),
        greatest(col("m_a.id"), col("m_b.id")).as("id_b"),
        when(col("m_a.id") < col("m_b.id"), col("m_a.f"))
          .otherwise(col("m_b.f")).as("fa"),
        when(col("m_a.id") < col("m_b.id"), col("m_b.f"))
          .otherwise(col("m_a.f")).as("fb"))
      .withColumn("frame_offset", col("fb") - col("fa"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "frame_offset").orderBy("fa")
    aligned
      .withColumn("isl", col("fa") - row_number().over(w))
      .groupBy("id_a", "id_b", "frame_offset", "isl")
      .agg(count(lit(1)).as("run"))
      .groupBy("id_a", "id_b", "frame_offset")
      .agg(sum(col("run")).as("n_aligned"), max(col("run")).as("max_run"))
      .filter(col("max_run") >= minRun)
  }

  /** Shot-boundary (scene cut) detection over per-frame perceptual
    * signatures — the segmentation primitive a video curation pipeline
    * runs before per-shot sampling/dedup: a CUT falls between consecutive
    * frames of one video whose fingerprints differ by at least
    * `minHamming` bits (`ham >= minHamming`, matching the oracle); shots
    * are the runs between cuts.
    *
    * One window pass per video (lag + running cut count — the q07
    * gaps-and-islands family), then two integer aggregates. Partitioned
    * by video id and bounded by frames-per-video, so a 100 TB corpus
    * parallelizes across videos with no cross-video shuffle beyond the
    * signature table's own partitioning.
    *
    * Output: one row per video — `(id, n_frames, n_cuts, n_shots,
    * max_shot_len)`, all exact integers. Input must be a stride-1
    * signature table ([[graft.multimodal.Multimodal.videoFrameHashes]]);
    * sampled tables would alias shot boundaries. */
  def sceneCuts(
      sigs: DataFrame,
      idCol: String,
      frameCol: String,
      bandsCol: String,
      minHamming: Int = 8,
      nBands: Int = 4): DataFrame = {
    require(minHamming >= 1, "minHamming must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("f")
    val s = sigs.select(col(idCol).as("id"), col(frameCol).as("f"),
      col(bandsCol).as("bands"))
      .withColumn("__prev", lag(col("bands"), 1).over(w))
    val ham = bandHamming(col("bands"), col("__prev"), nBands)
    val marked = s
      .withColumn("__cut",
        when(col("__prev").isNotNull && ham >= minHamming, 1L).otherwise(0L))
      .withColumn("__shot", sum(col("__cut")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val perShot = marked.groupBy("id", "__shot")
      .agg(count(lit(1)).as("__len"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shots"), max(col("__len")).as("max_shot_len"))
    marked.groupBy("id")
      .agg(count(lit(1)).as("n_frames"), sum(col("__cut")).as("n_cuts"))
      .join(perShot, "id")
      .select(col("id"), col("n_frames"), col("n_cuts"),
        col("n_shots"), col("max_shot_len"))
  }

  /** Connected components over a pair graph — the step that turns
    * candidate PAIRS (minhash/simhash/embedding LSH output) into dedup
    * GROUPS with a canonical keeper (min id per component).
    *
    * Algorithm: min-label propagation with shortcutting (Stergiou et al.,
    * WSDM 2018). Every node's label is a node id of its own component, at
    * most its own id; it starts as min(v, N(v)). Each round:
    *  - m(v) = min of v's label and its neighbours' labels (one scatter
    *    over the edges);
    *  - if no m is below its label, the two ends of every edge agree and
    *    each component carries its minimum id: stop;
    *  - else every node reports m to the node its label names (its
    *    parent), and a node's new label is the minimum m among itself, its
    *    reporting children, its parent and its parent's children.
    * Labels never rise and never sit above plain propagation's, so the
    * loop needs no round cap. The parent exchange shortcuts chains: a
    * 400-node path with shuffled ids takes 8 rounds, where neighbour-only
    * propagation with pointer jumping takes 168 (9 each with ascending
    * ids).
    *
    * The loop runs on co-partitioned pair RDDs, so a round is ONE job (the
    * parent exchange's two shuffles, then the scatter; the stop test's
    * count is its action); on DataFrames adaptive execution would spend a
    * job per exchange. Near-dup cliques are converged by the initial
    * labels and stop after one scatter. `pairs` is read once, into a
    * persisted adjacency; each round's (label, m) table is
    * localCheckpointed, so the returned frame's lineage is cut.
    *
    * Returns (id, component) for every node in `pairs` — a node whose only
    * pair is a self-pair included — with component = min id reachable.
    * Ids must be non-null. Deterministic.
    */
  def connectedComponents(
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b"): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema(idACol).dataType
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    val adj = pairs.select(col(idACol).cast("long"), col(idBCol).cast("long"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .rdd
      .flatMap { case (a, b) => Iterator(a -> b, b -> a) }
      .groupByKey(part)
      .mapValues(_.toArray.distinct)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // (v, (label, m)): the edge scatter is the round's one shuffle over
    // the edges; both joins are narrow (co-partitioned)
    def scatter(labels: RDD[(Long, Long)]): RDD[(Long, (Long, Long))] =
      labels.join(adj.join(labels)
        .flatMap { case (_, (ns, l)) => ns.iterator.map(_ -> l) }
        .reduceByKey(part, math.min(_, _)))
        .mapValues { case (l, n) => (l, math.min(l, n)) }
        .localCheckpoint()
    var nodes = scatter(adj.mapPartitions(
      _.map { case (v, ns) => (v, math.min(v, ns.min)) }, preservesPartitioning = true))
    while (nodes.filter { case (_, (l, m)) => m != l }.count() > 0) {
      // at parent p: best = min m over p and its children, sent to p and
      // to each child; a node's new label is the smaller of the two it gets
      nodes = scatter(nodes.cogroup(nodes.map { case (v, (p, m)) => (p, (v, m)) }, part)
        .flatMap { case (p, (own, kids)) =>
          val best = kids.foldLeft(own.head._2)((b, k) => math.min(b, k._2))
          Iterator(p -> best) ++ kids.iterator.map(_._1 -> best)
        }
        .reduceByKey(part, math.min(_, _)))
    }
    adj.unpersist()
    spark.createDataFrame(nodes.mapValues(_._1)).toDF("id", "component")
      .select(col("id").cast(idType).as("id"), col("component").cast(idType).as("component"))
  }

  /** Hyperplane coefficient for plane `p`, element `i` — deterministic
    * splitmix64 stream, rounded to float so the literal is representable
    * identically in every engine. */
  def planeCoeff(p: Int, i: Int): Float =
    ((PH.splitmix((p.toLong << 32) | i.toLong) % 1000L) / 1000.0).toFloat

  /** Embedding near-dup pairs: cosine >= threshold among vectors sharing at
    * least one of `numBands` random-hyperplane LSH band keys (`bandBits`
    * sign bits each — `sign(cos(v, plane)) == sign(dot(v, plane))`).
    *
    * Banded like minhash: a single `bandBits`-bit table has only
    * 2^bandBits buckets, whose occupancy grows linearly with the corpus —
    * the round-2 single-table formulation went quadratic on any dense
    * bucket. Multiple independent band tables + the shared
    * [[bucketPairs]] harvest with its `maxBucket` cap bound the pair
    * expansion while multiplying recall (P[miss] = (1 - p^bandBits)^numBands
    * for per-bit agreement probability p = 1 - theta/pi).
    *
    * Planes are literal float arrays (deterministic splitmix coefficients),
    * each sign bit computed by the native codegen'd CosineSimilarity
    * expression; `dim` is a required parameter (schema knowledge — no
    * driver-side probe job).
    */
  /** The `(id, vec, bno, bk)` hyperplane band table shared by
    * [[embeddingNearDupPairs]] (the harvest) and
    * [[hyperplaneBucketStats]] (its occupancy probe) — same planes, same
    * sign rule, same key packing, so the probe measures exactly the
    * buckets the harvest expands. */
  private def hyperplaneBanded(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      numBands: Int,
      bandBits: Int,
      planeStride: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    // planeStride: plane index = bno * stride + bit. The default (0 ->
    // bandBits) is the historical dense layout; the AUTO variant passes a
    // FIXED stride so the first `bandBits` planes of each band are stable
    // as bandBits grows with the corpus — band keys at different scales
    // then share plane prefixes, and a static oracle can inline the full
    // stride's plane literals and gate each bit on the derived bandBits.
    val stride = if (planeStride <= 0) bandBits else planeStride
    require(bandBits <= stride, "bandBits must fit the plane stride")
    def plane(p: Int): Column =
      array((0 until dim).map(i => lit(planeCoeff(p, i))): _*)
    def bandKey(b: Int): Column =
      (0 until bandBits).map { bit =>
        when(graft.plans.GraftExtensions.cosine(spark,
          col("vec"), plane(b * stride + bit)) > 0.0d, lit(1L << bit)).otherwise(0L)
      }.reduce(_ + _)
    emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .select(col("id"), col("vec"),
        posexplode(array((0 until numBands).map(bandKey): _*)).as(Seq("bno", "bk")))
  }

  /** Smallest band width (in sign bits) in `[minBits, maxBits]` whose
    * 2^bits key space keeps expected band-bucket occupancy at or under
    * `targetOcc` for an `n`-vector corpus: `n <= targetOcc · 2^bits`.
    * Pure integer logic, so Spark and any SQL oracle agree exactly at
    * power-of-two boundaries (a float log2 could straddle them by 1 ulp).
    *
    * This is the q235 lesson as code: a FIXED band width has its
    * pair-expansion work grow ~quadratically once corpus growth outruns
    * the key space (occupancy per bucket grows linearly, pair work as its
    * square); deriving bits from the corpus count — nbits ≈ log2(n/occ),
    * the [[semanticDedupGroupsAuto]] √n sizing move applied to LSH key
    * width — keeps per-bucket occupancy (and the harvest's cost per row)
    * ~flat at every scale. */
  def autoBandBits(
      n: Long,
      minBits: Int = 6,
      maxBits: Int = 24,
      targetOcc: Long = 32L): Int = {
    require(minBits >= 1 && maxBits >= minBits && maxBits <= 62 && targetOcc >= 1)
    (minBits to maxBits).find(b => n <= (targetOcc << b)).getOrElse(maxBits)
  }

  /** [[embeddingNearDupPairs]] with the band width DERIVED from the
    * corpus ([[autoBandBits]]): one count at plan-build time sizes the
    * key space so band-bucket occupancy stays ~flat as the corpus grows —
    * the scale path past q33's fixed 2^6 keys (whose occupancy probe
    * q235 shows pair_work exploding once rows outrun the key space).
    * Planes use the fixed `planeStride` layout so the same literal plane
    * family serves every derived width. */
  def embeddingNearDupPairsAuto(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      numBands: Int = 4,
      maxBucket: Int = 1000,
      planeStride: Int = 24): DataFrame = {
    val bits = autoBandBits(emb.count())
    embeddingNearDupPairs(emb, idCol, vecCol, threshold, dim,
      numBands, bits, maxBucket, planeStride)
  }

  def embeddingNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      numBands: Int = 8,
      bandBits: Int = 16,
      maxBucket: Int = 1000,
      planeStride: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    val banded = hyperplaneBanded(emb, idCol, vecCol, dim, numBands, bandBits,
      planeStride)
    val pairs = bucketPairs(banded, Seq(col("bno"), col("bk")),
      struct(col("id"), col("vec")), maxBucket)
    pairs.select(
      least(col("m_a.id"), col("m_b.id")).as("id_a"),
      greatest(col("m_a.id"), col("m_b.id")).as("id_b"),
      graft.plans.GraftExtensions.cosine(spark, col("m_a.vec"), col("m_b.vec")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** Band-bucket occupancy probe for the hyperplane-LSH harvest — the
    * [[minhashBucketStats]] twin over [[embeddingNearDupPairs]]'s band
    * buckets. The harvest's expansion work is `sum(occ·(occ−1)/2)` over
    * (band, key) buckets at the id grain (embeddings are unique, so there
    * is no distinct-fingerprint collapse to account for), and this one-row
    * probe reports it per corpus BEFORE committing the run: `pair_work`
    * growing faster than corpus size means band-key COLLISION RATE (the
    * replica multiplies near-isotropic vectors over a fixed 2^bandBits key
    * space, so occupancy per bucket — and pair work — grows ~quadratically
    * with rows), not per-row hashing cost, is the scaling driver; the
    * knobs are more `bandBits` (smaller collision rate per band) or a
    * tighter `maxBucket`. Output: `(n_buckets, n_vec_band_rows, max_occ,
    * n_multi_buckets, pair_work)`. */
  def hyperplaneBucketStats(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      numBands: Int = 8,
      bandBits: Int = 16,
      planeStride: Int = 0): DataFrame =
    bucketCensus(hyperplaneBanded(emb, idCol, vecCol, dim, numBands, bandBits,
      planeStride), "n_vec_band_rows")

  /** Duplicated-span detection — the exact-substring dedup signal of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"), bounded to fixed `windowTokens`-token rolling windows: a
    * window instance is DUPLICATED when its content also appears in at
    * least one OTHER document. Returns one row per document with >=
    * `windowTokens` tokens: `(id, n_windows, dup_windows, dup_frac)` —
    * the per-doc fraction a span-level deduper would cut.
    *
    * Shape: tokenize → explode rolling-window hashes (portable md5Hash60
    * so the oracle can replay on window STRINGS — equal strings == equal
    * hashes absent 60-bit collisions) → aggregate to `(window, doc)`
    * grain → count docs per window with ONE window function (no
    * self-join) → fold back to docs. Three hash-key Exchanges, all
    * O(total windows); nothing is quadratic, no pair expansion exists at
    * all — this is the cheap screen you run BEFORE an expensive
    * suffix-array pass at 100 TB. */
  /** The `(id, h)` rolling-window hash stream underlying
    * [[duplicatedSpans]]/[[duplicatedSpansIncremental]]; `distinct` over
    * its `h` column is the persistable span store. */
  def spanWindowHashes(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"), split(trim(lower(col(textCol))), "\\s+").as("t"))
      .filter(size(col("t")) >= windowTokens)
    toks.select(col("id"),
      explode(transform(
        sequence(lit(0), size(col("t")) - windowTokens),
        i => PH.md5Hash60(array_join(slice(col("t"), i + 1, lit(windowTokens)), " "))))
        .as("h"))
  }

  def duplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8): DataFrame = {
    val perDoc = spanWindowHashes(docs, idCol, textCol, windowTokens)
      .groupBy("h", "id").agg(count(lit(1)).as("c"))
    val wNd = org.apache.spark.sql.expressions.Window.partitionBy("h")
    perDoc
      .withColumn("nd", count(lit(1)).over(wNd))
      .groupBy("id")
      .agg(
        sum(col("c")).as("n_windows"),
        sum(when(col("nd") >= 2, col("c")).otherwise(lit(0L))).as("dup_windows"))
      .withColumn("dup_frac",
        col("dup_windows").cast("double") / col("n_windows"))
  }

  /** Maximal duplicated span RANGES — the cut list the
    * [[duplicatedSpans]] screen exists to feed (Lee et al. 2022 exact
    * substring dedup removes the duplicated spans themselves, not whole
    * documents). A window instance is duplicated when its content appears
    * in at least one OTHER document (the screen's criterion); overlapping
    * and touching duplicated windows merge into one maximal token range.
    * Returns `(id, span_start, span_end, span_tokens)` — 1-based inclusive
    * token positions, one row per maximal range, ordered within doc — the
    * exact character of what a span-cutting pass deletes.
    *
    * Shape: the [[spanWindowHashes]] stream keeps its start position →
    * duplicated-hash set from the same (hash, doc)-grain count as the
    * screen → semi-join instances against it on the hash → merge per doc.
    * Because all windows share one width, interval union degenerates to
    * gaps-and-islands on start positions (new island when the gap between
    * consecutive duplicated starts exceeds the window width — W7's move),
    * so the merge is two window functions over per-DOC partitions (bounded
    * by document length, never corpus-grain). Every corpus-sized exchange
    * is on the span hash or the doc id; no pair expansion exists. */
  def duplicatedSpanRanges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"), split(trim(lower(col(textCol))), "\\s+").as("t"))
      .filter(size(col("t")) >= windowTokens)
    val inst = toks.select(col("id"),
      posexplode(transform(
        sequence(lit(0), size(col("t")) - windowTokens),
        i => PH.md5Hash60(array_join(slice(col("t"), i + 1, lit(windowTokens)), " "))))
        .as(Seq("p", "h")))
      .select(col("id"), (col("p") + 1).cast("long").as("sp"), col("h"))
    // hashes seen in >= 2 documents, from the same (h, id) grain the
    // screen aggregates to (never the raw instance stream)
    val wNd = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val dupH = inst.groupBy("h", "id").agg(count(lit(1)).as("c"))
      .withColumn("nd", count(lit(1)).over(wNd))
      .filter(col("nd") >= 2)
      .select("h").distinct()
    val dup = inst.join(dupH, Seq("h"), "left_semi")
    // fixed-width interval union == gaps-and-islands on starts: coverage
    // [sp, sp+w-1] of consecutive duplicated starts stays contiguous
    // exactly while the start gap is <= w
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("sp")
    val prev = lag(col("sp"), 1).over(wDoc)
    dup
      .withColumn("brk",
        when(prev.isNull || col("sp") - prev > windowTokens, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wDoc))
      .groupBy("id", "island")
      .agg(min(col("sp")).as("span_start"),
        (max(col("sp")) + (windowTokens - 1)).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .drop("island")
  }

  /** Apply [[duplicatedSpanRanges]] — the actual CUT: every token inside a
    * maximal duplicated range is removed and the survivors are rejoined
    * with single spaces (Lee et al.'s exact substring dedup deletes the
    * spans and keeps the rest of the document). Returns
    * `(id, text, n_cut)` for EVERY input doc — text is the
    * whitespace-normalized rebuild (unchanged docs too, so output form
    * does not depend on whether a doc was cut), `n_cut` the tokens
    * removed. Original token case is preserved: positions are computed on
    * the lowercased tokenization (the hash side) but applied to the
    * original tokens — the split boundaries are identical.
    *
    * Scale shape: the range list folds to a per-doc array (bounded by doc
    * length), joins back on id, and the cut itself is in-row HOFs —
    * transform/exists/filter — adding one id-grain exchange to the ranges
    * plan and nothing corpus-quadratic. */
  def cutDuplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8): DataFrame = {
    val ranges = duplicatedSpanRanges(docs, idCol, textCol, windowTokens)
      .groupBy("id")
      .agg(collect_list(
        struct(col("span_start").as("a"), col("span_end").as("b"))).as("rs"))
    docs.select(col(idCol).as("id"), col(textCol))
      .join(ranges, Seq("id"), "left")
      .withColumn("rs",
        coalesce(col("rs"), array().cast("array<struct<a:bigint,b:bigint>>")))
      .withColumn("toks", split(trim(col(textCol)), "\\s+"))
      .withColumn("kept", filter(
        transform(col("toks"), (t, i) => struct(t.as("t"), (i + 1).cast("long").as("p"))),
        x => !exists(col("rs"), r =>
          x.getField("p") >= r.getField("a") && x.getField("p") <= r.getField("b"))))
      .select(col("id"),
        array_join(transform(col("kept"), _.getField("t")), " ").as("text"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_cut"))
  }

  /** Incremental [[duplicatedSpans]] — the span-level member of the
    * incremental-dedup triple ([[incrementalExactNew]] exact,
    * [[minhashIncrementalPairs]] near-dup): a NEW batch's window instance
    * is duplicated if its content appears in the corpus SPAN STORE
    * (`storeHashes`: distinct `h` from [[spanWindowHashes]], appended
    * never recomputed) or in another new document. Only the batch is
    * hashed; the store is probed by an equi-join on the window hash — at
    * corpus scale the store is bucketed by `h`, making the probe
    * co-located, and the batch side is the small one. */
  def duplicatedSpansIncremental(
      newDocs: DataFrame,
      storeHashes: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8,
      pruneStore: Boolean = true,
      expectedBatchHashes: Long = -1L): DataFrame = {
    val perDoc = spanWindowHashes(newDocs, idCol, textCol, windowTokens)
      .groupBy("h", "id").agg(count(lit(1)).as("c"))
    // a store hash matters only if the batch produced it: bloom-prune the
    // store scan with the batch's window hashes (bounded bytes, one extra
    // pass over the BATCH) before the join exchange — false positives just
    // ride to the exact join and fail to match, result identical. Sized
    // from the batch unless hinted (oversizing taxes every task binary)
    val store0 = storeHashes.select(col("h"))
    val store =
      if (!pruneStore) store0
      else {
        val items =
          if (expectedBatchHashes > 0) expectedBatchHashes
          else math.max(perDoc.count(), 1L)
        val bytes = BloomPrune.buildFilter(perDoc, col("h"), items)
        store0.where(BloomPrune.mightContain(store0, bytes, col("h")))
      }
    val wNd = org.apache.spark.sql.expressions.Window.partitionBy("h")
    perDoc
      .withColumn("nd", count(lit(1)).over(wNd))
      .join(store.withColumn("__in_store", lit(true)),
        Seq("h"), "left")
      .groupBy("id")
      .agg(
        sum(col("c")).as("n_windows"),
        sum(when(col("nd") >= 2 || col("__in_store"), col("c")).otherwise(lit(0L)))
          .as("dup_windows"))
      .withColumn("dup_frac",
        col("dup_windows").cast("double") / col("n_windows"))
  }

  /** SemDeDup-style semantic deduplication (cluster-then-pairwise, after
    * Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication" — public method): assign every
    * embedding to its nearest centroid, compare pairs ONLY within a
    * cluster, connect pairs with cosine >= `threshold` into components,
    * and keep the minimum id per component.
    *
    * Returns one row per input vector: `(id, component, is_keeper)` —
    * `component` = min id reachable through >=threshold cluster-scoped
    * pairs (own id when unpaired), `is_keeper` = id == component.
    *
    * 100 TB posture: this is the point of SemDeDup — the quadratic
    * pairwise stage is scoped to a cluster, never the corpus. Assignment
    * is the shuffle-free centroid-literal argmax projection shared with
    * [[Similarity.ivfTopK]]'s write path (no Exchange); the only shuffles
    * are the cluster-key harvest ([[bucketPairs]], flooded clusters
    * dropped whole by `maxBucket`) and the component propagation
    * ([[connectedComponents]], O(1) rounds on near-dup cliques). With
    * `nlist` sized so corpus/nlist fits an executor (the paper's k ~
    * sqrt(n) regime), no stage is quadratic in the corpus.
    */
  /** [[semanticDedupGroups]] with the cluster count DERIVED from the
    * corpus: `nlist = ceil(sqrt(n))` — the SemDeDup k≈√n regime as code,
    * not advice. With k fixed, in-cluster pairwise work grows as n²/k (a
    * 10x corpus is 100x the pair stage); √n keeps expected cluster size
    * AND cluster count at √n, so the quadratic stage scales ~n^1.5 total
    * and each cluster stays executor-sized. Costs one corpus count at
    * index-build time. */
  def semanticDedupGroupsAuto(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBucket: Int = 10000): DataFrame = {
    val n = emb.count()
    val nlist = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
    semanticDedupGroups(emb, idCol, vecCol,
      Similarity.headCentroids(emb, idCol, vecCol, nlist), threshold, maxBucket)
  }

  def semanticDedupGroups(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[(Int, Seq[Float])],
      threshold: Double,
      maxBucket: Int = 10000): DataFrame = {
    val spark = emb.sparkSession
    val assigned = emb
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("bucket", Similarity.nearestCentroid(spark, col("vec"), centroids))
    val pairs = bucketPairs(assigned, Seq(col("bucket")),
      struct(col("id"), col("vec")), maxBucket)
      .select(
        least(col("m_a.id"), col("m_b.id")).as("id_a"),
        greatest(col("m_a.id"), col("m_b.id")).as("id_b"),
        graft.plans.GraftExtensions.cosine(spark, col("m_a.vec"), col("m_b.vec")).as("cos"))
      .filter(col("cos") >= threshold)
    val comps = connectedComponents(pairs)
    assigned.select(col("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      .withColumn("is_keeper", col("component") === col("id"))
  }
}
