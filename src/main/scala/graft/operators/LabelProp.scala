package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semi-supervised label propagation over a nearest-neighbor graph — the
  * standard trick for stretching a small labeled seed set across a large
  * unlabeled corpus (Zhu & Ghahramani 2002's LP, majority-vote flavor):
  * each unlabeled node takes the most common label among its already-
  * labeled graph neighbors; seeds are clamped (never change); repeat for
  * a fixed number of synchronous rounds.
  *
  * Determinism contract (what makes this oracle-able): votes are integer
  * counts; the winning label per node is `max (count, -label)` — highest
  * count, ties to the SMALLEST label — computed as a max-struct aggregate,
  * never a rank sample. Synchronous rounds: round r+1 reads only round-r
  * assignments, so the fixpoint prefix is engine-independent.
  *
  * Scale shape: the edge list is the bounded mutual-kNN graph (≤ k rows
  * per node by construction — [[Similarity.mutualTopK]]); each round is
  * ONE map-side-combined shuffle on the destination node id (edges joined
  * to current labels on the source side) plus a broadcast-free
  * co-partitioned outer join back to the node table, run through
  * [[Fixpoint.rounds]]. Rounds are a fixed small constant (2-3 in
  * practice); nothing driver-side grows with the graph.
  */
object LabelProp {

  /** Propagate `labelCol` from seed nodes across undirected `edges`
    * ((srcCol, dstCol) pairs, one row per edge in either orientation —
    * both directions are expanded here) for `rounds` synchronous rounds.
    *
    * `nodes`: (idCol, labelCol) where labelCol is null for unlabeled
    * nodes. Returns (idCol, label, round_assigned): round 0 = seed,
    * r > 0 = assigned in round r, null label = never reached.
    */
  def propagate(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      labelCol: String,
      srcCol: String,
      dstCol: String,
      rounds: Int): DataFrame = {
    val reserved = Set("__lab", "__round", "__src", "__dst", "__votes", "__win")
    require(!nodes.columns.exists(reserved) && !edges.columns.exists(reserved),
      s"column names ${reserved.mkString(", ")} are reserved by propagate")

    // undirected: each edge votes in both directions
    val und = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .union(edges.select(col(dstCol).as("__src"), col(srcCol).as("__dst")))

    val seeded = nodes.select(col(idCol), col(labelCol).cast("long").as("__lab"),
      when(col(labelCol).isNotNull, lit(0)).as("__round"))

    Fixpoint.rounds(seeded, rounds) { (cur, r) =>
      // votes: labeled endpoints push their label to the other endpoint;
      // one shuffle on __dst (map-side combined), bounded by k·|V| rows in
      val votes = und
        .join(cur.filter(col("__lab").isNotNull)
          .select(col(idCol).as("__src"), col("__lab")), "__src")
        .groupBy(col("__dst"), col("__lab"))
        .agg(count(lit(1)).as("__votes"))
        .groupBy(col("__dst"))
        .agg(max(struct(col("__votes"), (-col("__lab")).as("__neg")))
          .as("__win"))
        .select(col("__dst").as(idCol), (-col("__win")("__neg")).as("__new"))
      cur.join(votes, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("__lab"), col("__new")).as("__lab"),
          coalesce(col("__round"),
            when(col("__lab").isNull && col("__new").isNotNull, lit(r)))
            .as("__round"))
    }.select(col(idCol), col("__lab").as("label"),
      col("__round").cast("long").as("round_assigned"))
  }
}
