package graft

import graft.operators.PageRank
import org.apache.spark.sql.functions._

/** Fixed-point PageRank invariants on hand-checkable graphs. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 1000000000000L

  private def sym(pairs: (Long, Long)*) =
    (pairs.toSeq ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  private def run(edges: org.apache.spark.sql.DataFrame, iters: Int = 10) =
    PageRank.integerPageRank(edges, "src", "dst", iters)
      .as[(Long, Long)].collect().toMap

  test("symmetric pair: exact equality, mass conserved within truncation") {
    val got = run(sym((1L, 2L)))
    assert(got(1L) == got(2L))
    val total = got.values.sum
    // per node per iteration: 1 contrib div + 1 damping div + the base div
    // each truncate < 1 unit -> drift is tens of units at SCALE = 1e12
    assert(total <= Scale && total >= Scale - 1000L)
  }

  test("4-cycle: all nodes equal (vertex-transitive graph)") {
    val got = run(sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(got.values.toSet.size == 1)
    assert(got.size == 4)
  }

  test("star: the hub strictly outranks every leaf, leaves tie exactly") {
    val got = run(sym((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L)))
    val leaves = (1L to 5L).map(got)
    assert(leaves.toSet.size == 1)
    assert(got(0L) > leaves.head)
  }

  test("10 rounds over a 200-node graph start at most 21 jobs") {
    val e = sym((1L to 200L).flatMap(i =>
      Seq((i, i % 200 + 1), (i, i * 3 % 200 + 1))).filter(p => p._1 != p._2): _*)
    val (got, jobs) = jobsStarted(run(e))
    assert(got.size == 200)
    // 19 in every run; with an adaptive cut every 3rd round, 33–36
    assert(jobs <= 21, s"$jobs jobs")
  }

  test("deterministic across independent runs and repartitionings") {
    val e = sym((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(run(e) == run(e.repartition(7)))
  }
}
