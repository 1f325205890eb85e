package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer-exact HITS (Kleinberg 1999, "Authoritative sources in a
  * hyperlinked environment") over a bipartite hub→authority edge list —
  * the mutual-reinforcement twin of [[PageRank]]: a hub is good because
  * it points at good authorities, an authority is good because good hubs
  * point at it.
  *
  *   a_0(v)   = S                              S = 2^20
  *   hraw_t(u) = Σ_{(u,v)∈E} a_{t-1}(v);  h_t = (hraw_t · S) div max hraw_t
  *   araw_t(v) = Σ_{(u,v)∈E} h_t(u);      a_t = (araw_t · S) div max araw_t
  *
  * Max-abs normalization replaces the textbook L2 norm (a square root
  * would leave the integer domain); the two differ by a positive scalar
  * per iteration, which HITS is invariant to. All values are non-negative
  * so `div`'s truncation is floor on both engines — exact, order-free,
  * engine-portable integer sums (the [[PageRank]]/[[Pca]] fixed-point
  * posture; the oracle unrolls the identical recurrence in HUGEINT).
  *
  * Scale shape: per iteration two join+map-side-sum pairs over the edge
  * list. The score side is node-grain but NOT bounded — hubs can be
  * fact-grain (orders), so broadcasting it unconditionally grows linearly
  * with the fact table and eventually OOMs the driver. The join strategy
  * is therefore size-gated: scores broadcast only while both node sets
  * fit under `maxBroadcastNodes` (probed once, one approximate
  * distinct-count action on the deduped edge list); past the gate the
  * edge list is pre-shuffled ONCE per join key (`repartition(a)` /
  * `repartition(h)`, each pinned by a localCheckpoint that preserves the
  * hash partitioning) so every iteration shuffles only the small score
  * table into place — the bucketed co-partitioned posture. Normalization
  * stays a lazy 1-row crossJoin each (the A8 max-probe idiom, never a
  * driver action); the raw-sum table is materialized per half-iteration
  * (see below), which doubles as the iterative-graph lineage cut.
  */
object Hits {

  /** The fixed-point unit S: every score is normalized to max S. */
  private val Scale = 1L << 20

  /** Returns `(hubs, authorities)`: `(node, score)` each, fixed-point S.
    * Edges are deduplicated; every hub must reach ≥1 authority and vice
    * versa (true by construction for co-occurrence bipartite graphs).
    *
    * The per-iteration score broadcast is taken only when the larger
    * node set fits under `maxBroadcastNodes` (score rows are two longs —
    * ~4M rows ≈ a few hundred MB of broadcast, the practical hint
    * ceiling; a web-scale hub side blows past it and must co-partition).
    *
    * Each raw-sum table is localCheckpointed BEFORE its max is taken:
    * `normalize` consumes the sums twice (max probe + projection), and
    * without the cut Catalyst re-derives the whole join subtree for each
    * consumer — a 2× expansion per half-iteration that compounds to ~2^T
    * between cuts (the engine-side twin of the oracle's MATERIALIZED
    * lesson; the uncut formulation ran 29 s where this runs seconds).
    * Raw sums accumulate in LONG (a node's in-sum is ≤ indegree·S —
    * overflow needs 2^43 in-edges on one node); the div is widened to
    * decimal only at the node-grain projection, where it is free. */
  def integerHits(
      edges: DataFrame,
      hubCol: String,
      authCol: String,
      iterations: Int = 8,
      maxBroadcastNodes: Long = 4000000L): (DataFrame, DataFrame) = {
    require(iterations >= 1 && iterations <= 64, "iterations in [1, 64]")
    // LAZY checkpoint (r13): the probe aggregate below materializes it
    val ed = edges.select(col(hubCol).as("h"), col(authCol).as("a"))
      .distinct().localCheckpoint(false)

    // ONE bounded probe action over the already-checkpointed edge list
    // (HLL sketches, map-side combined — two exact distinct-counts cost
    // ~2 s of the query at sf0.1 for a decision a ±2% estimate settles);
    // the gate keys on the LARGER side because both score tables cross
    // the wire every iteration
    val probe = ed.agg(approx_count_distinct(col("a")).as("na"),
      approx_count_distinct(col("h")).as("nh")).head()
    val bcast = math.max(probe.getLong(0), probe.getLong(1)) <= maxBroadcastNodes
    // co-partitioned path: pay the edge shuffle ONCE per join key; the
    // checkpoint pins the hash partitioning so each iteration's join
    // reuses it and only the node-grain score table moves
    // the two co-partitioned copies are PERSISTED, not checkpointed: under
    // AQE a checkpoint's LogicalRDD reports UnknownPartitioning (probed on
    // 4.1.2 — eager or lazy), which would put the per-iteration edge
    // shuffle back; a cached plan keeps its output partitioning
    val (edByA, edByH) =
      if (bcast) (ed, ed)
      else (graft.Caching.track(ed.repartition(col("a"))),
        graft.Caching.track(ed.repartition(col("h"))))
    // the raw-sum checkpoint is LAZY (r13): the broadcast build of `m`
    // is the materializing pass (it aggregates every partition of r, which
    // caches them), the projection then reads the cached copy — the
    // double-consumption guard of the eager formulation is kept while the
    // 2·iterations dedicated checkpoint jobs disappear; the whole
    // iteration chain now executes as ONE job DAG driven by the caller's
    // action, with the same per-half-iteration lineage cuts
    def normalize(rawDf: DataFrame, node: String): DataFrame = {
      val r = rawDf.localCheckpoint(false)
      val m = r.agg(greatest(max(col("raw")), lit(1L)).as("m"))
      r.crossJoin(broadcast(m))
        .select(col(node).as("node"),
          expr(s"(CAST(raw AS DECIMAL(38,0)) * $Scale) div m").as("score"))
    }

    var auth = ed.select(col("a").as("node")).distinct()
      .withColumn("score", lit(Scale))
    var hub: DataFrame = null
    var t = 1
    while (t <= iterations) {
      hub = normalize(rawSums(edByA, auth, "a", "h", bcast), "h")
      auth = normalize(rawSums(edByH, hub, "h", "a", bcast), "a")
      t += 1
    }
    (hub, auth)
  }

  /** One half-iteration's raw-sum join: scores moved to the edge side on
    * `joinKey`, summed per `outKey`. Package-private so PlanAuditSpec can
    * pin BOTH join strategies (broadcast vs co-partitioned) on the actual
    * production expression rather than a replica. */
  private[graft] def rawSums(
      edSide: DataFrame,
      scores: DataFrame,
      joinKey: String,
      outKey: String,
      bcast: Boolean): DataFrame = {
    val s = scores.withColumnRenamed("node", joinKey)
    edSide.join(if (bcast) broadcast(s) else s, joinKey)
      .groupBy(outKey).agg(sum(col("score")).as("raw"))
  }
}
