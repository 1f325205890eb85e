package graft

import graft.operators.{Decontamination, Drift, LabelProp, Mixing}
import org.apache.spark.sql.functions._

/** Hand-checked kernels for the corpus-drift/curation additions:
  * τ=0.5 temperature mix (q137), semantic decontamination (q138), label
  * propagation (q139), TV drift (q140), n-gram novelty (q141). */
class DriftOpsSpec extends SparkSpec {
  import spark.implicits._

  test("isqrt: exact floor sqrt across boundaries") {
    for (n <- Seq(0L, 1L, 2L, 3L, 4L, 8L, 9L, 10L, 99L, 100L, 101L,
        (1L << 31) - 1, 1L << 31, 999999999999L)) {
      val s = Mixing.isqrt(n)
      assert(s * s <= n && (s + 1) * (s + 1) > n, s"isqrt($n) = $s")
    }
  }

  test("sqrtTemperatureWeightsPpm: τ=0.5 shares, floor ppm") {
    // tokens 100 / 400 / 2500 → isqrt 10 / 20 / 50, W = 80
    val w = Mixing.sqrtTemperatureWeightsPpm(
      Map("a" -> 100L, "b" -> 400L, "c" -> 2500L))
    assert(w == Map(
      "a" -> 125000L,  // 10*1e6 // 80
      "b" -> 250000L,
      "c" -> 625000L))
  }

  test("mixTemperatureSqrt: small sources sample at higher rates than proportional") {
    // a: 10 docs x 10 tokens = 100; b: 100 docs x 25 tokens = 2500
    // isqrt: 10 / 50, W = 60; budget = 1300 (half of 2600)
    // weight_ppm: a = 166666, b = 833333
    // rate a = (1300*166666//1e6)*1e6 // 100 = 216*1e6//100 → capped 1e6
    // rate b = (1300*833333//1e6)*1e6 // 2500 = 1083*1e6//2500 = 433200
    val docs = ((1 to 10).map(i => (i.toLong, "a", 10L)) ++
      (11 to 110).map(i => (i.toLong, "b", 25L)))
      .toDF("id", "src", "tok")
    val got = Mixing.mixTemperatureSqrt(docs, "id", "src", "tok", 1300L)
      .groupBy("src", "weight_ppm", "rate_ppm").count()
      .orderBy("src")
      .as[(String, Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq(("a", 166666L, 1000000L), ("b", 833333L, 433200L)))
    // rate 1e6 keeps every a-doc
    assert(got(0)._4 == 10L)
  }

  test("semanticContamination: exact integer threshold flags the right vectors") {
    // dim-4 vectors; quantization scales each to max|x| = 127 exactly
    // (values are k/4 of the max, so quantized = k*127/4 rounded — but
    // using only 0/±max keeps the hand arithmetic trivial)
    val test = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("id", "vec")
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),   // cos=1 with test 0
      (11L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)),  // cos=-1: d<0 never flags
      (12L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),   // orthogonal to both
      (13L, Seq(1.0f, 1.0f, 0.0f, 0.0f))    // cos=1/√2 with both
    ).toDF("id", "vec")
    // θ² = 1/2: flags cos ≥ 0.7071.. — vec 10 (cos 1) and vec 13 (cos²=1/2
    // exactly, ≥ holds) with both tests
    val got = Decontamination.semanticContamination(
      corpus, test, "id", "vec", thrNum = 1L, thrDen = 2L)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((10L, 1L, 0L), (13L, 2L, 0L)))
  }

  test("labelProp: clamped seeds, majority with min-label ties, round bookkeeping") {
    // star: 1-2, 2-3, 3-4, 4-5 (a path); seeds: 1 → label 7, 5 → label 3
    // round 1: 2 gets 7 (from 1), 4 gets 3 (from 5), 3 unreached
    // round 2: 3 hears {7 from 2, 3 from 4} — tie 1-1 → min label 3
    val nodes = Seq(
      (1L, Some(7L)), (2L, None), (3L, None), (4L, None), (5L, Some(3L)))
      .toDF("id", "lab")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "d")
    val got = LabelProp.propagate(nodes, edges, "id", "lab", "s", "d", rounds = 2)
      .orderBy("id").as[(Long, Option[Long], Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, Some(7L), Some(0L)),
      (2L, Some(7L), Some(1L)),
      (3L, Some(3L), Some(2L)),
      (4L, Some(3L), Some(1L)),
      (5L, Some(3L), Some(0L))))
  }

  test("labelProp: isolated unlabeled node stays null") {
    val nodes = Seq((1L, Some(5L)), (2L, None), (9L, None)).toDF("id", "lab")
    val edges = Seq((1L, 2L)).toDF("s", "d")
    val got = LabelProp.propagate(nodes, edges, "id", "lab", "s", "d", rounds = 3)
      .orderBy("id").as[(Long, Option[Long], Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, Some(5L), Some(0L)), (2L, Some(5L), Some(1L)), (9L, None, None)))
  }

  test("labelProp: 3 rounds over a 20k-node graph start at most 9 jobs") {
    // q139's shape: parquet-backed nodes, a checkpointed 5-out-edge list.
    // 7 jobs in every run; uncut, the third round re-derives the first
    // two per read (28 jobs)
    val n = 20000L
    val dir = java.nio.file.Files.createTempDirectory("graft-labelprop").toString
    spark.range(1, n + 1)
      .select(col("id"), when(col("id") % 50 === 0, col("id") % 7).as("lab"))
      .write.mode("overwrite").parquet(dir)
    val nodes = spark.read.parquet(dir)
    val edges = spark.range(1, n + 1)
      .select(col("id").as("s"), explode(array((1 to 5).map(k =>
        pmod(xxhash64(col("id"), lit(k)), lit(n)) + 1): _*)).as("d"))
      .localCheckpoint()
    val (got, jobs) = jobsStarted(LabelProp.propagate(nodes, edges,
      "id", "lab", "s", "d", rounds = 3).collect())
    assert(got.length == n)
    assert(jobs <= 9, s"$jobs jobs")
  }

  test("tvDrift: identical per-source distributions have zero drift") {
    // two sources with the SAME value multiset → every bin share equals
    // the pooled share → tv 0 for both
    val docs = (0 until 40).map { i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", (i / 2 % 10).toLong)
    }.toDF("id", "src", "v")
    val got = Drift.tvDriftBySource(docs, "id", "src", "v", nBins = 10)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 20L, 0L), ("b", 20L, 0L)))
  }

  test("tvDrift: disjoint halves drift by half the mass each") {
    // a fills bins 1-5, b fills bins 6-10 (values 0..19 vs 100..119).
    // pooled share per bin = 100000 ppm; a has 200000 in its 5 bins, 0 in
    // the rest → Σ|d| = 5*100000 + 5*100000 = 1e6 → tv = 500000 each
    val docs = ((0 until 20).map(i => (i.toLong, "a", i.toLong)) ++
      (0 until 20).map(i => (100L + i, "b", 100L + i)))
      .toDF("id", "src", "v")
    val got = Drift.tvDriftBySource(docs, "id", "src", "v", nBins = 10)
      .orderBy("source").as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 20L, 500000L), ("b", 20L, 500000L)))
  }

  test("ngramNovelty: first-epoch attribution and floor ppm") {
    val docs = Seq(
      (0L, "a b c d"),     // epoch 0: grams "a b c", "b c d" — both new
      (1L, "a b c"),       // epoch 1: "a b c" — seen in epoch 0
      (2L, "x y z a b c")  // epoch 2: "x y z","y z a","z a b","a b c" — 3 new of 4
    ).toDF("ep", "text")
    val got = Drift.ngramNovelty(docs, "ep", "text", n = 3)
      .orderBy("epoch").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 2L, 1000000L),
      (1L, 1L, 0L, 0L),
      (2L, 4L, 3L, 750000L)))
  }
}
