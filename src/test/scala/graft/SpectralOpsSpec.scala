package graft

import graft.operators.{Bootstrap, Hits, Pca, Skyline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 spectral/inference/frontier operators: integer-exact power
  * iteration, Poisson bootstrap weights, skyline, and bipartite HITS on
  * hand-checkable inputs. */
class SpectralOpsSpec extends SparkSpec {
  import spark.implicits._

  private val S = 1L << 20

  // ------------------------------------------------------------------ Pca

  test("pca: diagonal gram converges to the dominant axis, halving per round") {
    // G = diag(2, 1): v0 = (S, S); each round doubles the gap by the
    // eigenvalue ratio -> after 8 rounds the minor component is S/2^8
    val g = Seq((0, 0, 2L), (0, 1, 0L), (1, 1, 1L)).toDF("i", "j", "g")
    val (v, lambda) = Pca.topComponent(g, 2)
    assert(v(0) == S)
    assert(v(1) == S >> 8)
    assert(lambda == 2L)
  }

  test("pca: off-diagonal gram lands on the symmetric eigenvector exactly") {
    // G = [[1,1],[1,1]] (rank 1): u1 = (2S, 2S) -> v = (S, S) fixed point,
    // lambda = 2
    val g = Seq((0, 0, 1L), (0, 1, 1L), (1, 1, 1L)).toDF("i", "j", "g")
    val (v, lambda) = Pca.topComponent(g, 2)
    assert(v(0) == S && v(1) == S)
    assert(lambda == 2L)
  }

  test("pca: sign-flipped dominant direction is reproduced, not rectified") {
    // G = [[1,-1],[-1,1]]: dominant eigenvector (1,-1); v0=(S,S) is in the
    // null space -> u1 = 0, guard divides by max(|u|,1)=1 and stays at 0.
    // Perturb via asymmetric diag to break the null start.
    val g = Seq((0, 0, 2L), (0, 1, -1L), (1, 1, 1L)).toDF("i", "j", "g")
    val (v, _) = Pca.topComponent(g, 2)
    assert(v(0) == S)
    assert(v(1) < 0) // dominant eigenvector of [[2,-1],[-1,1]] has opposite signs
  }

  test("pca: projectionScore is the exact integer dot product") {
    val df = Seq((1L, Seq(1, -2, 3)), (2L, Seq(0, 0, 0))).toDF("id", "qvec")
    val got = df.select(col("id"),
        Pca.projectionScore(col("qvec"), Array(10L, 100L, 1000L)).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 10L - 200L + 3000L)
    assert(got(2L) == 0L)
  }

  test("pca: deterministic across repartitionings of the gram input") {
    val g = Seq((0, 0, 5L), (0, 1, 2L), (0, 2, -1L), (1, 1, 3L), (1, 2, 1L),
      (2, 2, 4L)).toDF("i", "j", "g")
    assert(Pca.topComponent(g, 3)._1.toSeq ==
      Pca.topComponent(g.repartition(7), 3)._1.toSeq)
  }

  // ------------------------------------------------------------ Bootstrap

  test("bootstrap: weights are Poisson-shaped, bounded, and deterministic") {
    val ids = (1L to 2000L).toDF("id")
    val w = ids.select(element_at(Bootstrap.poissonWeights(col("id"), 2), 1).as("w"))
      .as[Int].collect()
    assert(w.forall(x => x >= 0 && x <= 6))
    val mean = w.sum.toDouble / w.length
    assert(mean > 0.9 && mean < 1.1, s"Poisson(1) mean drifted: $mean")
    assert(w.count(_ == 0).toDouble / w.length > 0.30) // P(0)=0.368
    val w2 = ids.repartition(13)
      .select(col("id"),
        element_at(Bootstrap.poissonWeights(col("id"), 2), 1).as("w"))
      .orderBy("id").as[(Long, Int)].collect().map(_._2)
    assert(ids.orderBy("id").as[Long].collect().zip(w2).toMap ==
      (1L to 2000L).zip(w).toMap)
    // replicates decorrelate: the two permutations of the same base hash
    // must not produce identical weight vectors
    val both = ids.select(Bootstrap.poissonWeights(col("id"), 2).as("ws"))
      .as[Seq[Int]].collect()
    assert(both.exists(s => s(0) != s(1)))
  }

  test("bootstrap: replicate means bracket the true mean and replay exactly") {
    val df = (1L to 500L).map(i => (i, i % 7, "g")).toDF("id", "v", "grp")
    val reps = Bootstrap.poissonReplicateMeans(df, "id", "v", "grp", 16)
    val rows = reps.as[(String, Int, Double)].collect()
    assert(rows.length == 16)
    assert(rows.map(_._2).toSet == (0 until 16).toSet)
    val trueMean = (1L to 500L).map(_ % 7).sum.toDouble / 500.0
    rows.foreach { case (_, _, m) =>
      assert(math.abs(m - trueMean) < 0.5, s"replicate mean $m vs $trueMean") }
    val again = Bootstrap.poissonReplicateMeans(df.repartition(11), "id", "v", "grp", 16)
      .as[(String, Int, Double)].collect()
    assert(rows.sortBy(_._2).toSeq == again.sortBy(_._2).toSeq)
  }

  // -------------------------------------------------------------- Skyline

  private def sky(points: (Long, Long, Long)*) =
    Skyline.skylineMax(points.toDF("id", "x", "y"), "id", Seq("x", "y"))
      .as[(Long, Long, Long)].collect().map(_._1).toSet

  test("skyline: dominated points drop, incomparable points survive") {
    assert(sky((1L, 3L, 1L), (2L, 1L, 3L), (3L, 2L, 2L), (4L, 1L, 1L)) ==
      Set(1L, 2L, 3L))
  }

  test("skyline: strict dominance — equal-dim duplicates all survive") {
    assert(sky((1L, 2L, 2L), (2L, 2L, 2L)) == Set(1L, 2L))
    assert(sky((1L, 3L, 3L), (2L, 3L, 2L)) == Set(1L)) // >= all, > one
  }

  test("skyline: deterministic across partitionings") {
    val pts = (1L to 300L).map(i => (i, i % 17, (i * 31) % 23)).toDF("id", "x", "y")
    val a = Skyline.skylineMax(pts, "id", Seq("x", "y"))
      .as[(Long, Long, Long)].collect().toSet
    val b = Skyline.skylineMax(pts.repartition(13), "id", Seq("x", "y"))
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("skyline: anti-correlated degeneracy trips the loud guard") {
    val pts = (1L to 100L).map(i => (i, i, -i)).toDF("id", "x", "y")
    val e = intercept[Exception] {
      Skyline.skylineMax(pts, "id", Seq("x", "y"), maxCandidates = 10L).count()
    }
    assert(e.getMessage.contains("anti-correlated"))
  }

  // ----------------------------------------------------------------- Hits

  test("hits: the better-cited part strictly outranks, converging to A^T A's eigenvector") {
    // orders 1,2,3 all buy part 10; order 1 also buys part 11.
    // Authority converges to the dominant eigenvector of A^T A = [[3,1],[1,1]]:
    // lambda = 2 + sqrt(2), ratio a(11)/a(10) = sqrt(2) - 1.
    val ed = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L)).toDF("h", "a")
    val (hub, auth) = Hits.integerHits(ed, "h", "a", iterations = 8)
    val a = auth.as[(Long, Long)].collect().toMap
    assert(a(10L) == S)
    val expected = (math.sqrt(2.0) - 1.0) * S
    assert(math.abs(a(11L) - expected) < 64,
      s"a(11)=${a(11L)} vs ${expected.toLong}")
    val hh = hub.as[(Long, Long)].collect().toMap
    assert(hh(1L) == S && hh(2L) == hh(3L) && hh(2L) < S)
  }

  test("hits: complete bipartite graph is score-uniform") {
    val ed = (for { h <- 1L to 3L; a <- 10L to 12L } yield (h, a)).toDF("h", "a")
    val (hub, auth) = Hits.integerHits(ed, "h", "a", iterations = 4)
    assert(auth.select("score").distinct().count() == 1)
    assert(hub.select("score").distinct().count() == 1)
  }

  test("hits: deterministic across partitionings and duplicate edges") {
    val base = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 12L), (3L, 10L))
    val a1 = Hits.integerHits(base.toDF("h", "a"), "h", "a")._2
      .as[(Long, Long)].collect().toMap
    val a2 = Hits.integerHits((base ++ base).toDF("h", "a").repartition(7),
        "h", "a")._2.as[(Long, Long)].collect().toMap
    assert(a1 == a2)
  }

  test("hits: co-partitioned path is score-identical to the broadcast path") {
    // integer arithmetic is order-free, so the join strategy must be
    // invisible in the scores — the size gate can flip at any scale
    // without changing a single output value
    val ed = (for { h <- 1L to 20L; a <- 10L to (10L + h % 5) } yield (h, a))
      .toDF("h", "a")
    def scores(df: (DataFrame, DataFrame)) = (
      df._1.as[(Long, Long)].collect().toMap,
      df._2.as[(Long, Long)].collect().toMap)
    // the default gate broadcasts the 20-hub fixture; a threshold below
    // the node count forces the co-partitioned path
    val bc = scores(Hits.integerHits(ed, "h", "a", iterations = 5))
    val cp = scores(Hits.integerHits(ed, "h", "a", iterations = 5,
      maxBroadcastNodes = 1L))
    assert(bc == cp)
  }
}
