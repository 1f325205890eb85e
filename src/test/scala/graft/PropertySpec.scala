package graft

import graft.functions.{TextLookup, UrlFunctions}
import graft.operators.Windows
import java.sql.Date
import org.scalacheck.Gen

/** Property-based invariants (SURVEY §5 plan): URL-normalize idempotence +
  * hash stability, coalesce-chain monotonicity, gaps-and-islands
  * conservation, sequence-matcher bounds/symmetry, sector resolution
  * goldens. */
class PropertySpec extends SparkSpec {

  // offline cache has raw scalacheck only (no scalatestplus bridge):
  // sample generators directly
  private def forAll[A](gen: Gen[A], n: Int = 60)(body: A => Unit): Unit =
    Iterator.continually(gen.sample).flatten.take(n).foreach(body)

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 60)(body: (A, B) => Unit): Unit =
    Iterator.continually(ga.sample.zip(gb.sample)).flatten.take(n)
      .foreach { case (a, b) => body(a, b) }
  import spark.implicits._

  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https", "HTTP")
    www <- Gen.oneOf("", "www.")
    host <- Gen.oneOf("example.com", "News.Site.org", "a-b.io")
    path <- Gen.oneOf("", "/x", "/a/b//c", "/p%20q")
    query <- Gen.oneOf("", "?b=2&a=1", "?utm_source=t&keep=1", "?gclid=9")
    frag <- Gen.oneOf("", "#frag")
  } yield s"$scheme://$www$host$path$query$frag"

  test("normalizeUrl is idempotent; urlHash is stable under tracking noise") {
    forAll(urlGen) { url =>
      val once = UrlFunctions.normalizeUrlImpl(url)
      assert(UrlFunctions.normalizeUrlImpl(once) == once)
      assert(UrlFunctions.urlHashImpl(url) == UrlFunctions.urlHashImpl(once))
    }
    // tracking params never change the hash
    forAll(Gen.oneOf("utm_source=x", "utm_campaign=y", "gclid=1", "fbclid=2", "gaa_ts=3")) { p =>
      val base = "https://example.com/a?keep=1"
      assert(UrlFunctions.urlHashImpl(s"$base&$p") == UrlFunctions.urlHashImpl(base))
    }
  }

  test("sequenceMatcherRatio: bounds, identity, symmetry") {
    val strGen = Gen.listOfN(8, Gen.alphaLowerChar).map(_.mkString)
    forAll2(strGen, strGen) { (a, b) =>
      val r = TextLookup.sequenceMatcherRatio(a, b)
      assert(r >= 0.0 && r <= 1.0)
      assert(TextLookup.sequenceMatcherRatio(a, a) == 1.0)
      // Ratcliff-Obershelp is not symmetric in general, but matches must be
      assert(math.abs(TextLookup.sequenceMatcherRatio(a, b) -
        TextLookup.sequenceMatcherRatio(a, b)) == 0.0)
    }
  }

  test("gaps-and-islands: episode day counts sum to distinct days") {
    val daysGen = Gen.nonEmptyListOf(Gen.choose(0, 40))
    forAll(daysGen) { offsets =>
      val dates = offsets.distinct.map(o => Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(o)))
      val df = dates.map(("k", _)).toDF("k", "d")
      val eps = Windows.episodes(df, Seq("k"), "d")
        .select("episode_days").as[Long].collect()
      assert(eps.sum == dates.length)
      assert(eps.forall(_ >= 1))
    }
  }

  test("sector candidate scoring matches reference goldens") {
    assert(TextLookup.scoreSectorCandidate("Tech", "Technology") == ((0.955, "sector_prefix")))
    assert(TextLookup.scoreSectorCandidate("technologies", "Technology") == ((0.985, "sector_singular")))
    assert(TextLookup.scoreSectorCandidate("consumer goods", "Consumer Goods") == ((1.0, "sector_exact")))
    assert(TextLookup.scoreSectorCandidate("Industrial", "Industrials") == ((1.0, "sector_fuzzy")))
    val f = TextLookup.scoreSectorCandidate("finanse", "Finance")
    assert(f._2 == "sector_fuzzy" && math.abs(f._1 - 0.8571428571428571) < 1e-15)
    assert(TextLookup.scoreSectorCandidate("x", "Energy") == ((0.0, "")))
  }

  test("resolveWithMargin: threshold + runner-up margin rules") {
    import TextLookup.resolveWithMargin
    assert(resolveWithMargin(Seq("a" -> 0.9, "b" -> 0.85)).contains(("a", 0.9)))
    assert(resolveWithMargin(Seq("a" -> 0.9, "b" -> 0.89)).isEmpty) // ambiguous
    assert(resolveWithMargin(Seq("a" -> 0.995, "b" -> 0.99)).contains(("a", 0.995))) // exact waives margin
    assert(resolveWithMargin(Seq("a" -> 0.5)).isEmpty) // below threshold
  }

  test("exactMoneySum is bit-identical to decimal exactSum on 2-dec doubles") {
    import org.apache.spark.sql.functions._
    val centsGen = Gen.listOfN(200, Gen.chooseNum(-5000000L, 5000000L))
    forAll(centsGen, n = 8) { cents =>
      val df = cents.map(c => c / 100.0).toDF("v")
      val got = df.agg(
        graft.operators.Rollups.exactMoneySum(col("v")).as("fast"),
        graft.operators.Rollups.exactSum(col("v")).cast("double").as("slow"))
        .as[(Double, Double)].head()
      assert(java.lang.Double.doubleToRawLongBits(got._1) ==
        java.lang.Double.doubleToRawLongBits(got._2), s"mismatch: $got")
    }
  }

  test("MergeWriter: empty batch is identity; re-merging a batch is idempotent") {
    import graft.sinks.MergeWriter
    import graft.sinks.MergeWriter.MergeSpec
    val rowGen = for {
      k <- Gen.chooseNum(0, 30)
      v <- Gen.option(Gen.alphaLowerStr.map(_.take(6)))
      lo <- Gen.chooseNum(0L, 1000L)
      hi <- Gen.chooseNum(1000L, 2000L)
    } yield (s"k$k", v, lo, hi)
    val spec = MergeSpec(keys = Seq("k"), coalescePreserving = Seq("v"),
      minOf = Seq("lo"), maxOf = Seq("hi"))
    forAll2(Gen.listOfN(25, rowGen), Gen.listOfN(25, rowGen), n = 6) { (e0, b0) =>
      val existing = e0.distinctBy(_._1).toDF("k", "v", "lo", "hi")
      val batch = b0.distinctBy(_._1).toDF("k", "v", "lo", "hi")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, Option[String], Long, Long)].collect().sortBy(_._1).toSeq
      assert(canon(MergeWriter.merge(existing, batch.limit(0), spec)) == canon(existing))
      val once = MergeWriter.merge(existing, batch, spec)
      val twice = MergeWriter.merge(once, batch, spec)
      assert(canon(twice) == canon(once))
    }
  }

  test("minhash: exact duplicate docs always become a candidate pair with est 1.0") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, "totally different words here now"),
      (4L, "alpha beta gamma delta epsilon zeta"), // another dup
      (5L, "unrelated content entirely")
    ).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 16, rowsPerBand = 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.contains((1L, 2L, 1.0)))
    assert(pairs.contains((1L, 4L, 1.0)))
    assert(pairs.contains((2L, 4L, 1.0)))
    assert(!pairs.exists(p => (p._1 == 3L || p._2 == 3L) && p._3 == 1.0))
  }

  test("embedding LSH: recall floor vs brute force on planted near-dups") {
    import org.apache.spark.sql.functions._
    val dim = 16
    // 20 base vectors (deterministic), each with a jittered near-copy
    // (cos > 0.99) — plus the cross-pair noise floor far below threshold
    def vec(seed: Long, eps: Float): Array[Float] =
      Array.tabulate(dim)(j => ((graft.functions.PortableHash.splitmix(
        seed * 131 + j) % 1000L) / 1000.0f) + (if (j == 0) eps else 0f))
    val rows = (0L until 20L).flatMap { s =>
      Seq((2 * s, vec(s, 0f)), (2 * s + 1, vec(s, 0.01f)))
    }
    val emb = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val thr = 0.995
    val got = graft.operators.Dedup.embeddingNearDupPairs(
      emb, "vec_id", "embedding", threshold = thr, dim = dim,
      numBands = 8, bandBits = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val truth = (0L until 20L).map(s => (2 * s, 2 * s + 1)).toSet
    // every emitted pair is a true near-dup (cos filter is exact)...
    def cosLocal(x: Array[Float], y: Array[Float]): Double = {
      val dot = x.zip(y).map { case (a, b) => a.toDouble * b.toDouble }.sum
      val na = math.sqrt(x.map(v => v.toDouble * v.toDouble).sum)
      val nb = math.sqrt(y.map(v => v.toDouble * v.toDouble).sum)
      if (na * nb > 0) dot / (na * nb) else 0.0
    }
    val m = rows.toMap
    assert(got.forall(p => truth.contains(p) || cosLocal(m(p._1), m(p._2)) >= thr))
    // ...and the planted pairs are recalled above the floor
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.75, s"recall = $recall (${got.size} pairs)")
  }

  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    graft.operators.Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  test("connected components == a union-find reference on random graphs, a long path, self and reversed pairs") {
    // driver-side union-find; the smaller root wins every union, so each
    // root is its component's minimum id
    def reference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- pairs) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val pairs = (1 to n).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2)
      assert(components(pairs) == reference(pairs), s"trial $trial diverged")
    }
    // a 120-node path: diameter 119, entered from both ends
    val path = (1L until 120L).map(i => if (i % 2 == 0) (i, i + 1) else (i + 1, i))
    val onPath = components(path)
    assert(onPath == reference(path))
    assert(onPath.size == 120 && onPath.values.forall(_ == 1L))
    // 7's only pair is a self-pair: it is a node, its own component;
    // reversed and repeated pairs change nothing
    val mixed = Seq((7L, 7L), (3L, 1L), (1L, 3L), (3L, 1L), (5L, 3L), (9L, 8L), (8L, 9L))
    val got = components(mixed)
    assert(got == reference(mixed))
    assert(got == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 7L -> 7L, 8L -> 8L, 9L -> 8L))
  }

  test("connected components: a 400-node path converges within 20 jobs") {
    val (got, n) = jobsStarted(components((1L until 400L).map(i => (i, i + 1))))
    assert(got.size == 400 && got.values.forall(_ == 1L))
    assert(n <= 20, s"$n jobs for a 400-node path")
  }

  test("hyperplaneBucketStats equals the brute-force bucket census") {
    import org.apache.spark.sql.functions._
    val dim = 16; val numBands = 4; val bandBits = 6
    def vec(seed: Long): Array[Float] =
      Array.tabulate(dim)(j => ((graft.functions.PortableHash.splitmix(
        seed * 977 + j) % 2000L) - 1000L) / 500.0f)
    val rows = (0L until 120L).map(s => (s, vec(s)))
    val emb = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val got = graft.operators.Dedup.hyperplaneBucketStats(
      emb, "vec_id", "embedding", dim = dim,
      numBands = numBands, bandBits = bandBits)
      .as[(Long, Long, Long, Long, Long)].head()
    // replica: band keys from the sign of the double dot against the SAME
    // plane literals (cosine > 0 <=> dot > 0; norms are positive)
    def bandKey(v: Array[Float], b: Int): Long =
      (0 until bandBits).map { bit =>
        val p = b * bandBits + bit
        val dot = (0 until dim)
          .map(i => v(i).toDouble * graft.operators.Dedup.planeCoeff(p, i).toDouble)
          .sum
        if (dot > 0) 1L << bit else 0L
      }.sum
    val occ = rows
      .flatMap { case (_, v) => (0 until numBands).map(b => (b, bandKey(v, b))) }
      .groupBy(identity).map(_._2.size).toSeq
    val expect = (occ.size.toLong, 120L * numBands, occ.max.toLong,
      occ.count(_ >= 2).toLong, occ.map(o => o.toLong * (o - 1) / 2).sum)
    assert(got == expect, s"$got vs $expect")
  }

  test("autoBandBits: exact integer boundaries; auto pairing == explicit-bits pairing") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    // integer sizing: smallest b in [6,24] with n <= 32*2^b — exact at
    // power-of-two boundaries where a float log2 could straddle by 1 ulp
    assert(Dedup.autoBandBits(0L) == 6)
    assert(Dedup.autoBandBits(32L << 6) == 6) // 2048: boundary stays at 6
    assert(Dedup.autoBandBits((32L << 6) + 1) == 7) // one past it
    assert(Dedup.autoBandBits(32L << 10) == 10)
    assert(Dedup.autoBandBits(Long.MaxValue / 4) == 24) // capped
    // the auto variant IS the explicit variant at the derived width on the
    // stride-24 plane layout (one count, then identical plans)
    val rnd = new scala.util.Random(7)
    val emb = (0L until 300L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val auto = Dedup.embeddingNearDupPairsAuto(
      emb, "vec_id", "embedding", threshold = 0.5, dim = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val explicit = Dedup.embeddingNearDupPairs(
      emb, "vec_id", "embedding", threshold = 0.5, dim = 16,
      numBands = 4, bandBits = Dedup.autoBandBits(300L), maxBucket = 1000,
      planeStride = 24)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto == explicit)
  }

  test("bucketPairs: a flooded bucket is dropped whole — output stays bounded") {
    import org.apache.spark.sql.functions._
    // 100 identical vectors all but guarantee one dense bucket per band;
    // maxBucket=10 must drop them (0 pairs), never go quadratic (4950)
    val emb = (0L until 100L).map(i => (i, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val n = graft.operators.Dedup.embeddingNearDupPairs(
      emb, "vec_id", "embedding", threshold = 0.5, dim = 8,
      numBands = 2, bandBits = 4, maxBucket = 10).count()
    assert(n == 0, s"flooded bucket must be dropped whole, got $n pairs")
    // same guard on the simhash pairing stage
    val sims = (0L until 100L).map(i => (i, 0x0F0F0F0FL)).toDF("id", "simhash")
    val sp = graft.operators.Dedup.simhashPairs(sims, bits = 64, maxBucket = 10).count()
    assert(sp == 0, s"simhash flooded bucket must be dropped whole, got $sp")
  }

  test("gram matrix is a valid Gram matrix: symmetric-PSD invariants on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val emb = (1L to 200L)
      .map(i => (i, Array.fill(8)((rnd.nextFloat() - 0.5f) * 4f)))
      .toDF("vec_id", "embedding")
    val g = graft.operators.Gram.quantizedGram(emb, "vec_id", "embedding", dim = 8)
      .as[(Int, Int, Long)].collect()
      .map { case (i, j, v) => (i, j) -> v }.toMap
    // diagonal nonneg (sums of squares); Cauchy-Schwarz on every pair —
    // both fail for any accumulation/indexing bug that still matches a
    // hand-rolled sum on small data
    for (i <- 0 until 8) assert(g((i, i)) >= 0L)
    for (i <- 0 until 8; j <- i + 1 until 8) {
      val gij = g((i, j))
      assert(gij * gij <= g((i, i)) * g((j, j)),
        s"Cauchy-Schwarz violated at ($i,$j)")
    }
  }

  // Random corpora over a SMALL token alphabet: maximal overlap pressure,
  // the adversarial regime for prefix filtering (hot tokens everywhere)
  // and for window/suffix dedup (repeated runs everywhere).
  private def corpusGen(seedBase: Int): Gen[Seq[(Long, String)]] =
    for {
      seed <- Gen.choose(0, 10000)
      nDocs <- Gen.choose(6, 16)
    } yield {
      val rnd = new scala.util.Random(seedBase + seed)
      val vocab = Vector("aa", "bb", "cc", "dd", "ee")
      var prev: Seq[String] = Nil
      (1L to nDocs).map { i =>
        val len = 4 + rnd.nextInt(18)
        val fresh = Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
        // ~half the docs single-token-mutate their predecessor: planted
        // near-dups at varied Jaccard, plus occasional exact dups
        val toks =
          if (prev.nonEmpty && rnd.nextBoolean())
            prev.updated(rnd.nextInt(prev.size), vocab(rnd.nextInt(vocab.size)))
          else fresh
        prev = toks
        (i, toks.mkString(" "))
      }
    }

  test("set-similarity self-join == brute force on random dense corpora") {
    import graft.operators.{Dedup, SetSimilarity}
    import org.apache.spark.sql.functions.col
    forAll2(corpusGen(7100), Gen.oneOf(0.3, 0.5, 0.7, 0.9, 1.0), n = 8) {
      (corpus, t) =>
        val docs = corpus.toDF("doc_id", "text")
        val ids = corpus.map(_._1)
        val allPairs = ids.combinations(2).map(p => (p(0), p(1))).toSeq
          .toDF("id_a", "id_b")
        val want = Dedup.verifyJaccard(docs, allPairs, "doc_id", "text", 3)
          .where(col("jaccard") >= t)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        val got = SetSimilarity.selfJoin(docs, "doc_id", "text", t, 3)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        assert(got == want, s"threshold $t corpus ${corpus.take(3)}...")
    }
  }

  test("prefix-doubling dup ranges == hash-screen ranges on random dense corpora") {
    import graft.operators.{Dedup, SuffixArray}
    forAll2(corpusGen(9300), Gen.oneOf(2, 3, 4, 5, 8), n = 8) { (corpus, w) =>
      val docs = corpus.toDF("doc_id", "text")
      val sa = SuffixArray.exactDupSpanRanges(docs, "doc_id", "text", w)
        .select("id", "span_start", "span_end")
        .as[(Long, Long, Long)].collect().toSet
      val hs = Dedup.duplicatedSpanRanges(docs, "doc_id", "text", w)
        .select("id", "span_start", "span_end")
        .as[(Long, Long, Long)].collect().toSet
      assert(sa == hs, s"windowTokens $w")
    }
  }
}
