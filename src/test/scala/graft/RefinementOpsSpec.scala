package graft

import graft.operators.{KMeans, Mmr, PageRank, Similarity}
import org.apache.spark.sql.functions._

/** Round-8 refinement/selection operators: MMR greedy, personalized
  * PageRank, integer Lloyd k-means — hand-checkable invariants. */
class RefinementOpsSpec extends SparkSpec {
  import spark.implicits._

  // vectors with max-abs exactly 127 quantize to themselves — keeps the
  // int8 grid under test control
  private def quant(rows: (Long, Seq[Float])*) =
    Similarity.quantizeInt8(rows.toDF("vec_id", "embedding"), "vec_id", "embedding")

  // ------------------------------------------------------------------ Mmr

  test("mmr: pure-diversity lambda picks the farthest candidate second") {
    val qt = quant(
      0L -> Seq(127f, 0f, 0f, 0f), // query
      1L -> Seq(127f, 0f, 0f, 0f),
      2L -> Seq(127f, 13f, 0f, 0f),
      3L -> Seq(0f, 0f, 127f, 0f))
    val got = Mmr.mmrSelect(qt, "vec_id", 0L, k = 3, poolSize = 3,
        lambdaNum = 0L, lambdaDen = 1L)
      .orderBy("round").as[(Int, Long, Long, Long, Long)].collect()
    // round 1: all objectives 0 -> smallest id; round 2: min max-sim wins
    assert(got.map(_._2).toSeq == Seq(1L, 3L, 2L))
  }

  test("mmr: pure-relevance lambda reduces to top-k by (rel, id)") {
    val qt = quant(
      0L -> Seq(127f, 0f, 0f, 0f),
      1L -> Seq(127f, 0f, 0f, 0f),
      2L -> Seq(127f, 13f, 0f, 0f),
      3L -> Seq(0f, 127f, 0f, 0f))
    val got = Mmr.mmrSelect(qt, "vec_id", 0L, k = 3, poolSize = 3,
        lambdaNum = 1L, lambdaDen = 1L)
      .orderBy("round").as[(Int, Long, Long, Long, Long)].collect()
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_._3).toSeq == got.map(_._3).toSeq.sorted.reverse) // rel desc
  }

  test("mmr: deterministic across repartitionings, scores exact") {
    val vecs = (0L to 40L).map(i =>
      i -> Seq(((i * 37) % 255 - 127).toFloat, ((i * 53) % 255 - 127).toFloat,
        127f, ((i * 11) % 100).toFloat))
    val a = Mmr.mmrSelect(quant(vecs: _*), "vec_id", 0L, 5, 20)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    val b = Mmr.mmrSelect(
        Similarity.quantizeInt8(vecs.toDF("vec_id", "embedding").repartition(7),
          "vec_id", "embedding"), "vec_id", 0L, 5, 20)
      .as[(Int, Long, Long, Long, Long)].collect().toSeq
    assert(a == b)
    a.foreach { case (_, _, rel, ms, sc) => assert(sc == 7L * rel - 3L * ms) }
  }

  // ------------------------------------------------------------------ PPR

  private def sym(pairs: (Long, Long)*) =
    (pairs.toSeq ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("ppr: mass concentrates at the seed; symmetric non-seeds tie") {
    val e = sym((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val got = PageRank.integerPageRank(e, "src", "dst",
        seeds = Some(Seq(1L).toDF("node"))).as[(Long, Long)].collect().toMap
    assert(got(1L) > got(2L))
    assert(got(2L) == got(3L) && got(3L) == got(4L))
    assert(got(0L) > got(2L)) // the hub relays all seed mass
    assert(got.values.sum <= 1000000000000L)
  }

  test("ppr: seeding every node reproduces global PageRank exactly") {
    val e = sym((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val all = e.select(col("src").as("node")).distinct()
    val ppr = PageRank.integerPageRank(e, "src", "dst", seeds = Some(all))
      .as[(Long, Long)].collect().toMap
    val pr = PageRank.integerPageRank(e, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(ppr == pr)
  }

  test("ppr: seeds absent from the graph are rejected loudly") {
    val e = sym((1L, 2L))
    intercept[IllegalArgumentException] {
      PageRank.integerPageRank(e, "src", "dst", seeds = Some(Seq(99L).toDF("node")))
    }
  }

  // --------------------------------------------------------------- KMeans

  test("kmeans: separated groups converge to their seed clusters") {
    val qt = quant(
      1L -> Seq(127f, 0f, 0f, 0f), 2L -> Seq(0f, 127f, 0f, 0f),
      3L -> Seq(127f, 5f, 0f, 0f), 4L -> Seq(126f, 0f, 0f, 0f),
      5L -> Seq(0f, 126f, 0f, 0f), 6L -> Seq(5f, 127f, 0f, 0f))
    val got = KMeans.integerLloyd(qt, "vec_id", k = 2, iterations = 3, dim = 4)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(got(1L) == 1L && got(3L) == 1L && got(4L) == 1L)
    assert(got(2L) == 2L && got(5L) == 2L && got(6L) == 2L)
  }

  test("kmeans: identical seed centroids tie to the smaller cid; empty cluster survives") {
    // all-identical points: both centroids coincide forever, every
    // assignment ties, and the tie must go to cid 1 every round
    val qt = quant(
      1L -> Seq(127f, 0f, 0f, 0f), 2L -> Seq(127f, 0f, 0f, 0f),
      3L -> Seq(127f, 0f, 0f, 0f), 4L -> Seq(127f, 0f, 0f, 0f))
    val got = KMeans.integerLloyd(qt, "vec_id", k = 2, iterations = 2, dim = 4)
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._2).toSet == Set(1L)) // cid 2 never wins a tie
    assert(got.forall(_._3 == 0L))
  }

  test("kmeans: deterministic across repartitionings") {
    val vecs = (1L to 60L).map(i =>
      i -> Seq(((i * 37) % 255 - 127).toFloat, ((i * 53) % 255 - 127).toFloat,
        ((i * 11) % 255 - 127).toFloat, 127f))
    val a = KMeans.integerLloyd(quant(vecs: _*), "vec_id", 4, 3, dim = 4)
      .as[(Long, Long, Long)].collect().toSet
    val b = KMeans.integerLloyd(
        Similarity.quantizeInt8(vecs.toDF("vec_id", "embedding").repartition(11),
          "vec_id", "embedding"), "vec_id", 4, 3, dim = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }
}
