package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Borůvka minimum spanning forest (Borůvka 1926; the distributed MST
  * algorithm of choice — each round EVERY component picks its lightest
  * outgoing edge simultaneously, so the component count at least halves
  * per round and O(log n) rounds suffice regardless of partitioning).
  * The training-data face: the single-linkage dendrogram — MST edge
  * weights ARE the single-linkage merge heights, so one MST pass answers
  * "how many clusters at EVERY threshold" without re-clustering per
  * threshold (cutting MST edges > τ yields exactly the τ-threshold
  * connected components).
  *
  * Determinism: edges are canonicalized (u < v, min weight per pair) and
  * totally ordered by `(w, u, v)` — the per-component argmin is a plain
  * `min(struct(w, u, v))` (map-side combined), so the forest is THE
  * unique MSF of the lexicographically-perturbed weights: any engine,
  * any partitioning, any run, and Prim/Kruskal under the same order
  * agree edge-for-edge (spec-pinned).
  *
  * Scale shape per round: two label joins against the node→component
  * table (co-partitioned; the component table is node-grain), one
  * map-side-combined struct-min at the component grain, and a
  * connected-components contraction over the SELECTED edges only (≤ one
  * edge per component — a forest-plus-cycles graph that is tiny next to
  * the input; [[Dedup.connectedComponents]]). The only driver scalar per
  * round is the cross-component edge count (the loop-termination probe —
  * the SemDeDup-nlist precedent); rounds ≤ ⌈log₂ n⌉ by the halving
  * argument.
  */
object Mst {

  /** Minimum spanning forest of the undirected weighted graph. Input
    * edges may carry duplicates/both orientations/self-loops (self-loops
    * drop, parallels keep the min weight). Output: `(u, v, w)` MSF edges
    * (canonical u < v), one DataFrame — n_nodes − n_components rows.
    *
    * The edge list is CONTRACTED in place each round — every surviving
    * row carries its original `(u, v, w)` plus the current component
    * endpoints `(cu, cv)`; after a merge, intra-component rows drop and
    * parallel rows collapse to the (w, u, v)-minimum. So the per-round
    * work is proportional to the CURRENT edge count, which shrinks
    * geometrically with the components — total work ~2·|E|, not
    * rounds·|E| (the first cut re-joined the full edge list against a
    * node-grain label table every round and was 3× slower). */
  def boruvkaMsf(
      edges: DataFrame,
      uCol: String,
      vCol: String,
      wCol: String): DataFrame = {
    // the component count at least halves per round: 40 rounds cover a
    // graph of 2^40 nodes, so hitting the bound means a bug
    val maxRounds = 40
    // r13 round-machinery cut: every checkpoint is LAZY and the per-round
    // edge COUNT is the materializing action (one job where
    // checkpoint-then-isEmpty paid two), the per-round `sel.distinct()`
    // exchange is deferred to ONE final distinct over the whole forest
    // (an edge picked by both endpoints duplicates only within its round —
    // after the merge it is intra-component and never reappears — and the
    // nested CC / relabel aggregates never needed unique rows), and `sel`
    // itself materializes inside the nested CC's first round job.
    var ed = edges
      .select(least(col(uCol), col(vCol)).as("u"),
        greatest(col(uCol), col(vCol)).as("v"),
        col(wCol).cast("long").as("w"))
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(min(col("w")).as("w"))
      .select(col("u").as("cu"), col("v").as("cv"),
        col("w"), col("u"), col("v"))
      .localCheckpoint(false)
    var nEdges = ed.count()
    val picked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    while (nEdges > 0L && round < maxRounds) {
      // each endpoint component nominates the edge; min(struct) is the
      // total-order argmin, map-side combined at the component grain
      val sel = ed.select(explode(array(
          struct(col("cu").as("comp"), col("w"), col("u"), col("v"),
            col("cu").as("ecu"), col("cv").as("ecv")),
          struct(col("cv").as("comp"), col("w"), col("u"), col("v"),
            col("cu").as("ecu"), col("cv").as("ecv")))).as("x"))
        .select(col("x.*"))
        .groupBy("comp")
        .agg(min(struct(col("w"), col("u"), col("v"),
          col("ecu"), col("ecv"))).as("m"))
        .select(col("m.u").as("u"), col("m.v").as("v"), col("m.w").as("w"),
          col("m.ecu").as("cu"), col("m.ecv").as("cv"))
        .localCheckpoint(false)
      picked += sel.select("u", "v", "w")
      // contract: components linked by selected edges merge (min label
      // over the tiny ≤-one-edge-per-component selection graph), then
      // the edge list relabels, drops intra-component rows, and
      // collapses parallels to their (w, u, v)-minimum
      val merged = Dedup.connectedComponents(
          sel.select(col("cu"), col("cv")), "cu", "cv")
        .select(col("id"), col("component"))
      val mu = merged.select(col("id").as("cu"), col("component").as("__nu"))
      val mv = merged.select(col("id").as("cv"), col("component").as("__nv"))
      ed = ed.join(mu, Seq("cu"), "left").join(mv, Seq("cv"), "left")
        .select(
          least(coalesce(col("__nu"), col("cu")),
            coalesce(col("__nv"), col("cv"))).as("ncu"),
          greatest(coalesce(col("__nu"), col("cu")),
            coalesce(col("__nv"), col("cv"))).as("ncv"),
          col("w"), col("u"), col("v"))
        .filter(col("ncu") =!= col("ncv"))
        .groupBy("ncu", "ncv")
        .agg(min(struct(col("w"), col("u"), col("v"))).as("m"))
        .select(col("ncu").as("cu"), col("ncv").as("cv"),
          col("m.w").as("w"), col("m.u").as("u"), col("m.v").as("v"))
        .localCheckpoint(false)
      nEdges = ed.count()
      round += 1
    }
    require(nEdges == 0L,
      s"boruvkaMsf did not converge in $maxRounds rounds")
    if (picked.isEmpty)
      edges.select(col(uCol).as("u"), col(vCol).as("v"),
        col(wCol).cast("long").as("w")).filter(lit(false))
    else picked.reduce(_ unionByName _).distinct()
  }

  /** Single-linkage cluster census of a forest at several cuts: for each
    * `cuts(i)` (a predicate over the forest's `(u, v, w)` that keeps the
    * edges surviving cut i), `(kept, largest, clustered)` — kept edges,
    * the largest component's node count (1 when no edge survives) and the
    * nodes in non-singleton components. A forest's cluster count at cut i
    * is `n_nodes − kept`.
    *
    * ONE tagged CC for every cut: each edge explodes to the cuts it
    * survives and node ids carry the cut index in their low 3 bits
    * (layers disjoint; min label within a layer decodes to the layer's
    * min node — exactly the per-cut CC's component), so one CC over
    * ≤ |cuts|·|forest| edges replaces one CC run per cut; per-cut results
    * are bit-identical because layers never interact. A forest's
    * components are long thin paths, which CC's parent shortcut crosses
    * in far fewer rounds than their diameter. */
  def cutCensus(forest: DataFrame, cuts: Seq[Column]): Seq[(Long, Long, Long)] = {
    require(cuts.size <= 8, "the cut index rides in 3 low id bits")
    val tagged = forest.select(
      explode(filter(array(cuts.zipWithIndex.map { case (keep, i) =>
        when(keep, lit(i.toLong)).otherwise(lit(-1L))
      }: _*), x => x =!= -1L)).as("ti"),
      col("u"), col("v")).localCheckpoint(false)
    val keptByTi = tagged.groupBy("ti").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cast BEFORE the ·8: an IntegerType key column would do the shift in
    // Int space first and throw (ANSI) past 2^28 ids
    val sizeByTi = Dedup.connectedComponents(
        tagged.select((col("u").cast("long") * 8 + col("ti")).as("cu"),
          (col("v").cast("long") * 8 + col("ti")).as("cv")), "cu", "cv")
      .groupBy(pmod(col("id"), lit(8L)).as("ti"), col("component"))
      .agg(count(lit(1)).as("sz"))
      .groupBy("ti")
      .agg(max(col("sz")).as("largest"), sum(col("sz")).as("clustered"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    cuts.indices.map { i =>
      val (largest, clustered) = sizeByTi.getOrElse(i.toLong, (1L, 0L))
      (keptByTi.getOrElse(i.toLong, 0L), largest, clustered)
    }
  }
}
