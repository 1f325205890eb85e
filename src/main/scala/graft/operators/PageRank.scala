package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer-exact PageRank (Page, Brin, Motwani & Winograd 1999) — the
  * canonical iterative distributed-graph workload, arithmetic restricted
  * to LONG integer division so every engine replays it bit-for-bit. One
  * recurrence serves global and personalized PageRank (random walk with
  * restart; Jeh & Widom 2003): mass starts at, and teleports back to, the
  * seed set S — every node when no seeds are given:
  *
  *   score_0(v)   = [v ∈ S] · SCALE div |S|
  *   contrib(u→v) = score_i(u) div outdeg(u)
  *   score_i+1(v) = [v ∈ S] · (15·SCALE) div (100·|S|)
  *                  + (85 · Σ_in contrib) div 100       (d = 0.85)
  *
  * Floating-point PageRank sums in-neighbor contributions in partition
  * order — non-associative, so two runs (or two engines) disagree in the
  * last ulps and ranks can flip. Fixed-point longs make every step exact
  * and order-free: the same reason the repo's money/score sums go through
  * decimals, applied to an iterative algorithm (the DuckDB oracle unrolls
  * the same 10 iterations with `//` floor division).
  *
  * Truncation loses at most 1 unit per div per node per iteration — at
  * SCALE = 1e12 that is a 1e-12-relative drift, far below any ranking
  * gap; the invariant total mass is ≤ SCALE with the deficit going to the
  * (1-d) teleport term, the standard "dangling mass dropped"
  * simplification. The input edge list is DIRECTED. The node table is
  * src ∪ dst: an in-edge-only node is a node (outdeg 0 — it holds mass
  * but contributes nothing onward, the ignore-dangling posture), and a
  * seed that appears only as a destination still seeds teleport mass. On
  * a symmetrized graph — what every registry caller passes — every node
  * has an out-edge and the table equals the src-only one.
  *
  * Scale shape: per iteration, one join of the (node, outdeg, score)
  * table against the edge list on `src` (scores are the small side — at
  * web scale this is the classic broadcast-or-co-partitioned join), one
  * map-side-combined sum on `dst`, one left join back to the node table,
  * run through [[Fixpoint.rounds]]. The seed count is ONE bounded driver
  * scalar (a count action, the SemDeDup-nlist precedent).
  *
  * Returns `(node, score)` for all nodes, unsorted: callers rank/limit.
  */
object PageRank {

  private val Scale = 1000000000000L

  /** `seeds`: one column of seed node ids; `None` seeds every node (global
    * PageRank). Seeds absent from both edge columns are ignored; a seed set
    * with none in the graph is rejected. */
  def integerPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10,
      seeds: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1 && iterations <= 100, "iterations in [1, 100]")
    // materialize the edge list once — its upstream lineage (often a
    // self-join building the graph) would otherwise re-execute on every
    // iteration; same posture as GraphX caching the edge RDD. PRE-SHUFFLED
    // by src and PERSISTED, not localCheckpointed: under AQE a
    // checkpoint's LogicalRDD reports UnknownPartitioning (probed on 4.1.2,
    // eager or lazy), while a cached plan keeps its output partitioning
    // (canChangeCachedPlanOutputPartitioning defaults false). So the
    // repartition-by-src pays its shuffle ONCE here and every iteration's
    // score⋈edges join reuses it (guide §2.4, the bucketed co-partitioned
    // posture; the Hits.scala precedent). graft.Caching bounds the registry.
    val ed = graft.Caching.track(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .repartition(col("src")))
    // node table and out-degrees in ONE aggregate: every edge counts 1 at
    // its src and 0 at its dst
    val nodes = ed
      .select(explode(array(
        struct(col("src").as("node"), lit(1L).as("o")),
        struct(col("dst").as("node"), lit(0L).as("o")))).as("x"))
      .groupBy(col("x.node").as("node")).agg(sum(col("x.o")).as("outdeg"))
    val deg = graft.Caching.track(seeds match {
      case None => nodes.withColumn("is_seed", lit(true))
      case Some(sd) => nodes
        .join(sd.toDF("node").distinct().withColumn("is_seed", lit(true)),
          Seq("node"), "left")
        .select(col("node"), col("outdeg"),
          coalesce(col("is_seed"), lit(false)).as("is_seed"))
    })
    val ns = deg.filter(col("is_seed")).count()
    require(ns > 0, "no seed is present in the graph")
    val base = (15L * Scale) / (100L * ns)
    val init = deg.withColumn("score",
      when(col("is_seed"), lit(Scale / ns)).otherwise(lit(0L)))
    Fixpoint.rounds(init, iterations) { (scores, _) =>
      // dangling (outdeg-0) nodes hold mass but contribute nothing onward;
      // the filter also keeps the integer div away from a zero divisor
      val contribs = scores.filter(col("outdeg") > 0)
        .join(ed, col("node") === col("src"))
        .select(col("dst"), expr("score div outdeg").as("q"))
        .groupBy("dst").agg(sum(col("q")).as("s"))
      deg.join(contribs, col("node") === col("dst"), "left")
        .select(col("node"), col("outdeg"), col("is_seed"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
            expr("(85 * coalesce(s, 0L)) div 100")).as("score"))
    }.select("node", "score")
  }
}
