package graft

import graft.operators.{AsofJoin, Dedup, Effective, Rollups, Similarity, Windows}
import org.apache.spark.sql.functions._
import java.sql.Date

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("Effective.coalesceChain precedence: override > llm > raw") {
    val df = Seq(
      ("a", Some("ov"), Some("llm"), "raw"),
      ("b", None, Some("llm"), "raw"),
      ("c", None, None, "raw")
    ).toDF("id", "ov", "llm", "raw")
      .withColumn("eff", Effective.coalesceChain(col("ov"), col("llm"), col("raw")))
    val got = df.select("id", "eff").as[(String, String)].collect().toMap
    assert(got == Map("a" -> "ov", "b" -> "llm", "c" -> "raw"))
  }

  test("Effective.latestWins keeps the newest row per key") {
    val df = Seq(
      ("k1", 1, "old"), ("k1", 3, "new"), ("k1", 2, "mid"),
      ("k2", 5, "only")
    ).toDF("k", "ts", "v")
    val got = Effective.latestWins(df, Seq("k"), Seq(col("ts").desc))
      .select("k", "v").as[(String, String)].collect().toMap
    assert(got == Map("k1" -> "new", "k2" -> "only"))
  }

  test("Windows.episodes splits on day gaps") {
    val df = Seq(
      ("u", Date.valueOf("2024-01-01")), ("u", Date.valueOf("2024-01-02")),
      ("u", Date.valueOf("2024-01-03")), ("u", Date.valueOf("2024-01-07")),
      ("v", Date.valueOf("2024-02-01"))
    ).toDF("k", "d")
    val got = Windows.episodes(df, Seq("k"), "d")
      .orderBy("k", "episode_start")
      .select("k", "episode_start", "episode_end", "episode_days")
      .as[(String, Date, Date, Long)].collect().toSeq
    assert(got == Seq(
      ("u", Date.valueOf("2024-01-01"), Date.valueOf("2024-01-03"), 3L),
      ("u", Date.valueOf("2024-01-07"), Date.valueOf("2024-01-07"), 1L),
      ("v", Date.valueOf("2024-02-01"), Date.valueOf("2024-02-01"), 1L)))
  }

  test("Windows.intervalUnion coalesces overlapping and touching ranges") {
    val df = Seq(
      // k "a": [1,5] + [3,7] overlap; [7,9] touches (7 == prior end) and
      // merges; [11,12] stands alone; contained [4,4] absorbs silently
      ("a", 1L, 5L), ("a", 3L, 7L), ("a", 7L, 9L), ("a", 4L, 4L), ("a", 11L, 12L),
      // k "b": duplicate intervals merge into one range of n_intervals 2
      ("b", 0L, 2L), ("b", 0L, 2L),
      // invalid (start > end) and null rows drop out
      ("c", 9L, 1L), ("c", 5L, 5L)
    ).toDF("k", "s", "e")
    val got = Windows.intervalUnion(df, Seq("k"), "s", "e")
      .orderBy("k", "u_start")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", 1L, 9L, 4L), ("a", 11L, 12L, 1L),
      ("b", 0L, 2L, 2L),
      ("c", 5L, 5L, 1L)))
    intercept[IllegalArgumentException](Windows.intervalUnion(
      df.withColumn("__iu_gid", lit(1)), Seq("k"), "s", "e"))
  }

  test("Windows.trailing is a ROWS frame of last n observations") {
    val df = Seq(("u", 1, 10), ("u", 2, 20), ("u", 5, 30), ("u", 9, 40))
      .toDF("k", "d", "v")
    val w = Windows.trailing(Seq("k"), "d", 2)
    val got = df.select(col("d"), sum("v").over(w).as("s"))
      .orderBy("d").as[(Int, Long)].collect().toSeq
    // sparse 'dates' still count as adjacent observations (ROWS, not RANGE)
    assert(got == Seq((1, 10L), (2, 30L), (5, 50L), (9, 70L)))
  }

  test("Rollups.topKStringsAgg takes k alphabetically-first matches") {
    val df = Seq(("g", "delta", true), ("g", "alpha", true), ("g", "echo", true),
      ("g", "bravo", true), ("g", "zulu", false)).toDF("g", "title", "neg")
    val got = df.groupBy("g")
      .agg(Rollups.topKStringsAgg(col("title"), col("neg"), 3).as("top"))
      .select("top").as[String].head()
    assert(got == "alpha | bravo | delta")
  }

  test("Rollups.taggedUnionCounts pivots one shuffle over tagged union") {
    val a = Seq(1, 1, 2).toDF("k")
    val b = Seq(1, 3).toDF("k")
    val got = Rollups.taggedUnionCounts(Seq("a" -> a, "b" -> b), Seq("k"))
      .orderBy("k").as[(Int, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1, 2L, 1L, 3L), (2, 1L, 0L, 1L), (3, 0L, 1L, 1L)))
  }

  test("Dedup.exactGroups groups identical normalized content") {
    val df = Seq((1L, "hello  world"), (2L, "hello world"), (3L, "bye"))
      .toDF("doc_id", "text")
    val got = Dedup.exactGroups(df, "doc_id", "text")
      .filter(col("n_docs") > 1).select("keep_id", "n_docs")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("Sampling: rates hold within tolerance; decision is partition-independent") {
    import graft.operators.Sampling
    val df = (1L to 4000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("id", "cls")
    val rates = Map("en" -> 0.5, "de" -> 0.1)
    val s1 = Sampling.stratifiedSample(df, "id", "cls", rates)
      .groupBy("cls").count().as[(String, Long)].collect().toMap
    // hash-uniformity: observed rate within ~4 sigma of the target
    assert(math.abs(s1("en") - 1000L) < 90, s"en=${s1("en")}")
    assert(math.abs(s1("de") - 200L) < 60, s"de=${s1("de")}")
    // identical decisions regardless of physical layout
    val s2 = Sampling.stratifiedSample(df.repartition(13), "id", "cls", rates)
      .select("id").as[Long].collect().toSet
    val ids1 = Sampling.stratifiedSample(df, "id", "cls", rates)
      .select("id").as[Long].collect().toSet
    assert(s2 == ids1)
    // default rate 0 drops unlisted strata entirely
    assert(Sampling.stratifiedSample(df, "id", "cls", Map("en" -> 1.0)).
      filter(col("cls") === "de").count() == 0)
  }

  test("Chunking: overlap reconstruction, short docs, packing budget invariants") {
    import graft.operators.Chunking
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b"),                                    // shorter than a chunk
      (3L, (1 to 4).map(i => s"x$i").mkString(" "))   // exactly one stride
    ).toDF("doc_id", "text")
    val chunks = Chunking.chunkByTokens(docs, "doc_id", "text", chunkSize = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx").collect()
    val d1 = chunks.filter(_.getLong(0) == 1L)
    // stride 3 over 10 tokens -> ceil(9/3)=3 chunks; consecutive chunks
    // share exactly `overlap` boundary tokens
    assert(d1.map(_.getAs[String]("chunk_text")).toSeq ==
      Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(d1.map(_.getAs[Int]("n_tokens")).toSeq == Seq(4, 4, 4))
    assert(chunks.filter(_.getLong(0) == 2L).map(_.getAs[String]("chunk_text")).toSeq
      == Seq("a b"))

    val toPack = Seq(("en", 1L, 100L), ("en", 2L, 900L), ("en", 3L, 600L),
      ("en", 4L, 2500L), ("de", 5L, 1000L))
      .toDF("lang", "doc_id", "n_tokens")
    val packed = Chunking.packSequences(toPack, Seq("lang"), "doc_id", "n_tokens", 1024L)
      .orderBy("lang", "doc_id").collect()
    // en: cum-before = 0,100,1000,1600 -> bins 0,0,0,1 ; oversized doc 4
    // starts in bin 1; de restarts at bin 0
    assert(packed.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bin"))).toSeq ==
      Seq((5L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L)))
    // bin_offset is the start position within the bin
    assert(packed.find(_.getAs[Long]("doc_id") == 2L).get.getAs[Long]("bin_offset") == 100L)
  }

  test("Dedup.connectedComponents: chains merge, singleton edges keep, min id wins") {
    // components: {1,2,3,8,9} (via 9-1 bridge), {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 1L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L))
    // a long chain still converges (diameter > 2 rounds)
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(cc.forall(_._2 == 1L) && cc.length == 12)
  }

  test("Dedup.minhashCandidatePairs surfaces near-identical docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq((1L, base), (2L, base + " tomorrow"), (3L, "totally different content nothing shared here at all whatsoever zero overlap"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(df, "doc_id", "text",
      shingleSize = 2, numHashes = 16, rowsPerBand = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) || !pairs.contains((2L, 3L)))
  }

  test("Dedup.minhashCandidatePairs equals brute-force band collision") {
    // 200 corpus docs plus planted exact copies and one-word edits, spread
    // over 4 partitions: the harvest must emit exactly the pairs whose
    // signatures agree on at least one whole band, with est_jaccard the
    // signature agreement
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 200).select("doc_id", "text")
    val planted = base.filter(col("doc_id") < 20).select(
      (col("doc_id") + 1000).as("doc_id"),
      when(col("doc_id") % 2 === 0, col("text"))
        .otherwise(concat(col("text"), lit(" planted"))).as("text"))
    val docs = base.unionByName(planted).repartition(4)
    val (numHashes, rowsPerBand) = (32, 4)
    val got = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = numHashes, rowsPerBand = rowsPerBand)
      .as[(Long, Long, Double)].collect().toSeq
    val sigs = Dedup.minhashSigs(docs, "doc_id", "text", shingleSize = 2,
      numHashes = numHashes).as[(Long, Seq[Long])].collect().sortBy(_._1)
    val expect = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if sa.grouped(rowsPerBand).zip(sb.grouped(rowsPerBand)).exists { case (x, y) => x == y }
    } yield (a, b, sa.zip(sb).count { case (x, y) => x == y }.toDouble / numHashes)).toSet
    assert(got.size == got.toSet.size, "duplicate pair rows")
    assert(got.toSet == expect, s"got ${got.size} vs expected ${expect.size}")
    assert(expect.exists(_._3 == 1.0) && expect.exists(_._3 < 1.0), "fixture lacks exact or near dups")
  }

  test("one near-dup harvest: monotonically_increasing_id orders only bucketPairs and the harvest") {
    val sources = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File("src/main/scala")).filter(_.getName.endsWith(".scala"))
    }
    assert(sources.exists(_.getName == "Dedup.scala"), "run from the repo root")
    val sites = for {
      f <- sources
      (line, i) <- new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").toSeq.zipWithIndex
      if line.contains("orderBy(monotonically_increasing_id())")
    } yield (f.getName, i)
    assert(sites.size == 2 && sites.forall(_._1 == "Dedup.scala"),
      s"capped-collect sites outside bucketPairs and fingerprintPairGraph: $sites")
    val dedup = new String(java.nio.file.Files.readAllBytes(
      sources.find(_.getName == "Dedup.scala").get.toPath), "UTF-8").split("\n").toSeq
    val owners = sites.map { case (_, i) =>
      dedup.take(i + 1).reverse.find(_.trim.startsWith("private")).getOrElse("") }
    assert(owners.exists(_.contains("def bucketPairs(")) &&
      owners.exists(_.contains("def fingerprintPairGraph(")), s"owners: $owners")
  }

  test("Dedup.verifyJaccard computes exact shingle jaccard") {
    val df = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.verifyJaccard(df, pairs, "doc_id", "text", shingleSize = 2)
      .orderBy("id_b").as[(Long, Long, Double)].collect().toSeq
    assert(got.head._3 == 1.0)
    assert(got.last._3 == 0.0)
  }

  test("Similarity.bruteForceTopK ranks the identical vector first") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(df, df.filter(col("vec_id") === 1), "vec_id", "embedding", 2)
      .orderBy("rank").select("neighbor_id", "rank").as[(Long, Int)].collect().toSeq
    assert(got.map(_._1) == Seq(2L, 4L))
  }

  test("Similarity.ivfTopK returns ranked neighbors") {
    val df = (1L to 40L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 10).toFloat))).toDF("vec_id", "embedding")
    val got = Similarity.ivfTopK(df, df.filter(col("vec_id") <= 2), "vec_id", "embedding", 3,
      centroids = Similarity.headCentroids(df, "vec_id", "embedding", 4), nprobe = 2)
    assert(got.count() > 0)
  }

  test("paginate saturates pathological offsets instead of wrapping Int") {
    import graft.operators.Windows
    val df = (1 to 10).toDF("x")
    // would previously compute limit((Int.MaxValue - 100 + 1000).toInt) < 0
    val got = Windows.paginate(df, Seq(col("x")), Int.MaxValue.toLong - 100, 1000)
    assert(got.count() == 0) // beyond the data, but no crash
    val page = Windows.paginate(df, Seq(col("x")), 8, 5).select("x").as[Int].collect()
    assert(page.toSeq == Seq(9, 10))
  }

  test("IVF ANN recall@5 vs brute force is measured and bounded") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val approx = pairs(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
      centroids = Similarity.headCentroids(emb, "vec_id", "embedding", 16), nprobe = 4))
    val recall = approx.intersect(exact).size.toDouble / exact.size
    // deterministic for this data; nprobe=4/16 trades recall for a 4x
    // smaller probe set — the quality floor is pinned so an accidental
    // bucketing regression (wrong centroid ids, broken probe join) fails
    assert(recall >= 0.55, s"recall@5 = $recall")

    // trained centroids (deterministic Lloyd iterations) must hold at least
    // the same floor — and in practice beat the first-n stand-ins
    val trained = Similarity.trainCentroidsKMeans(emb, "vec_id", "embedding", 16, iters = 3)
    val approxT = pairs(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
      centroids = trained, nprobe = 4))
    val recallT = approxT.intersect(exact).size.toDouble / exact.size
    assert(recallT >= 0.55, s"trained recall@5 = $recallT (head = $recall)")

    // int8 quantization: ~0.3% per-element error must barely move top-k
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val quant = pairs(Similarity.bruteForceTopKQuantized(
      q, q.filter(col("vec_id") < 20), "vec_id", 5))
    val recallQ = quant.intersect(exact).size.toDouble / exact.size
    assert(recallQ >= 0.9, s"quantized recall@5 = $recallQ")
    assert(exact.size == 100 && approx.size == 100)
  }

  test("asof join: backward/forward, inclusive ties, unmatched nulls, right dedup") {
    val left = Seq((1L, "k1", 10L), (2L, "k1", 20L), (3L, "k1", 5L), (4L, "k2", 50L))
      .toDF("lid", "k", "ts")
    // k1 has right rows at ts 10 (two rows — dedup must pick rid 12) and 15;
    // k2 has none before 50 (backward-unmatched) but one after
    val rightN = Seq((11L, "k1", 10L, "a"), (12L, "k1", 10L, "b"), (13L, "k1", 15L, "c"),
      (14L, "k2", 60L, "d")).toDF("rid", "k", "rts", "pv")
    val back = AsofJoin.asofBackward(left, rightN, Seq("k"), "ts", "rts", Seq("rid", "pv"))
      .as[(Long, String, Long, Option[Long], Option[String])].collect()
      .map(r => r._1 -> (r._4, r._5)).toMap
    assert(back(1L) == (Some(12L), Some("b"))) // tie at ts=10: inclusive + max-struct dedup
    assert(back(2L) == (Some(13L), Some("c"))) // latest at-or-before 20 is 15
    assert(back(3L) == (None, None))           // nothing at-or-before 5
    assert(back(4L) == (None, None))           // k2's only row is after 50
    val fwd = AsofJoin.asofForward(left, rightN, Seq("k"), "ts", "rts", Seq("rid", "pv"))
      .as[(Long, String, Long, Option[Long], Option[String])].collect()
      .map(r => r._1 -> r._4).toMap
    assert(fwd(1L) == Some(12L)) // inclusive at equal ts
    assert(fwd(2L) == None)      // nothing at-or-after 20 on k1... (15 < 20)
    assert(fwd(3L) == Some(12L)) // earliest at-or-after 5 is ts=10
    assert(fwd(4L) == Some(14L))
  }

  test("asof join: null keys never match; reserved __-names refused") {
    // SQL-join semantics: a null-keyed right row is invisible; a null-keyed
    // left row survives unmatched (Window.partitionBy would otherwise put
    // both in one null-key group and hand the left row a bogus match)
    val left = Seq((1L, Option("k1"), 10L), (2L, Option.empty[String], 10L))
      .toDF("lid", "k", "ts")
    val right = Seq((11L, Option("k1"), 5L, "a"), (12L, Option.empty[String], 5L, "b"))
      .toDF("rid", "k", "rts", "pv")
    val got = AsofJoin.asofBackward(left, right, Seq("k"), "ts", "rts", Seq("rid", "pv"))
      .as[(Long, Option[String], Long, Option[Long], Option[String])].collect()
      .map(r => r._1 -> (r._4, r._5)).toMap
    assert(got(1L) == (Some(11L), Some("a")))
    assert(got(2L) == (None, None))

    val bad = left.withColumnRenamed("lid", "__m")
    val e = intercept[IllegalArgumentException] {
      AsofJoin.asofBackward(bad, right, Seq("k"), "ts", "rts", Seq("rid"))
    }
    assert(e.getMessage.contains("__"))
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Scd2.buildIntervals(
        Seq(("u", 1L, "a")).toDF("k", "t", "valid_from"), Seq("k"), "t", Seq("valid_from"))
    }
    assert(e2.getMessage.contains("valid_from"))
  }

  test("scd2: dup-collapse, exclusive valid_to, is_current, one shuffle") {
    import graft.operators.Scd2
    val changes = Seq(
      ("u1", 1L, "a"), ("u1", 2L, "a"), ("u1", 3L, "b"), ("u1", 5L, "b"),
      ("u1", 7L, "a"), ("u2", 4L, "x"),
      ("u2", 6L, "x"), ("u2", 6L, "y") // same-ts tie: max state wins
    ).toDF("k", "t", "st")
    val got = Scd2.buildIntervals(changes, Seq("k"), "t", Seq("st"))
      .as[(String, String, Long, Option[Long], Boolean)].collect().sortBy(r => (r._1, r._3))
    assert(got.toSeq == Seq(
      ("u1", "a", 1L, Some(3L), false),
      ("u1", "b", 3L, Some(7L), false),
      ("u1", "a", 7L, None, true),
      ("u2", "x", 4L, Some(6L), false),
      ("u2", "y", 6L, None, true)))
    // both window passes share one Exchange (same partitioning + ordering)
    val plan = Scd2.buildIntervals(changes, Seq("k"), "t", Seq("st"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1, plan.take(1500))
  }

  test("bm25: tf monotonicity, rare-term idf boost, k bound") {
    import graft.operators.TextSearch
    val docs = Seq(
      (1L, "spark spark spark filler filler"),   // tf=3 for 'spark'
      (2L, "spark filler filler filler filler"), // tf=1
      (3L, "needle filler filler filler filler"),// rare term
      (4L, "filler spark filler spark filler"),  // tf=2
      (5L, "nothing here at all")
    ).toDF("doc_id", "text")
    val got = TextSearch.bm25TopK(docs, "doc_id", "text",
      Seq((1, Seq("spark")), (2, Seq("needle", "spark"))), k = 2)
      .as[(Int, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // q1: higher tf ranks first (equal dl); k caps at 2
    assert(got.filter(_._1 == 1).map(_._3).toSeq == Seq(1L, 4L))
    // q2: the rare 'needle' (df=1) outscores any single 'spark' hit (df=3)
    assert(got.filter(_._1 == 2).head._3 == 3L)

    // DataFrame-queries overload (semi-join vocab prune) must produce the
    // identical ranking, including duplicate query terms collapsing
    val qdf = Seq((1, "spark"), (2, "needle"), (2, "spark"), (2, "spark"))
      .toDF("query_id", "term")
    val gotDf = TextSearch.bm25TopK(docs, "doc_id", "text", qdf, 2)
      .as[(Int, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(gotDf.toSeq == got.toSeq)
  }

  test("range join == naive non-equi join on random data, across bin widths") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(11)
    val points = (1 to 300).map(i =>
      (i.toLong, s"k${rnd.nextInt(5)}", rnd.nextInt(100).toLong)).toDF("pid", "k", "p")
    val intervals = (1 to 80).map { i =>
      val s = rnd.nextInt(95).toLong
      (1000L + i, s"k${rnd.nextInt(5)}", s, s + rnd.nextInt(12))
    }.toDF("iid", "k", "s", "e")
    val naive = points.join(intervals, Seq("k"))
      .filter(col("p").between(col("s"), col("e")))
      .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
    for (w <- Seq(1L, 4L, 16L, 1000L)) {
      val got = RangeJoin.pointsInIntervals(points, intervals, Seq("k"), "p", "s", "e", w)
        .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
      assert(got == naive, s"binWidth=$w diverged (${got.size} vs ${naive.size})")
    }
  }

  test("interval overlap join == naive non-equi join, each pair exactly once") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(17)
    val left = (1 to 120).map { i =>
      val s = rnd.nextInt(90).toLong
      (i.toLong, s"k${rnd.nextInt(4)}", s, s + rnd.nextInt(15))
    }.toDF("lid", "k", "ls", "le")
    val right = (1 to 120).map { i =>
      val s = rnd.nextInt(90).toLong
      (1000L + i, s"k${rnd.nextInt(4)}", s, s + rnd.nextInt(15))
    }.toDF("rid", "k", "rs", "re")
    val naive = left.join(right, Seq("k"))
      .filter(col("ls") <= col("re") && col("rs") <= col("le"))
      .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
    for (w <- Seq(1L, 5L, 32L, 1000L)) {
      val got = RangeJoin.intervalOverlapJoin(left, right, Seq("k"),
        "ls", "le", "rs", "re", w)
        .select("lid", "rid").as[(Long, Long)].collect().sorted.toSeq
      assert(got == naive, s"binWidth=$w diverged (${got.size} vs ${naive.size})")
      assert(got.distinct.size == got.size, s"binWidth=$w emitted duplicates")
    }
  }

  test("vocab encode: order preserved, OOV->0, repeated terms map consistently") {
    import graft.operators.TextSearch
    val docs = Seq((1L, "b a zz a"), (2L, "zz")).toDF("doc_id", "text")
    val vocab = Seq(("a", 1L), ("b", 2L)).toDF("term", "vocab_id")
    val got = TextSearch.encodeWithVocab(docs, "doc_id", "text", vocab)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 4L, 1L, "2,1,0,1"), (2L, 1L, 1L, "0")))
  }

  test("length batches: scalable rank == naive global window, exact batching") {
    import graft.operators.Batching
    val rnd = new scala.util.Random(5)
    val docs = (1L to 400L).map(i => (i, 1L + rnd.nextInt(40).toLong))
      .toDF("id", "len")
    val got = Batching.lengthBatches(docs, "id", "len", 7)
      .select("id", "rank", "batch").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    val naive = docs.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("len").desc, col("id"))).cast("long"))
      .withColumn("batch", floor((col("rank") - 1) / 7).cast("long"))
      .select("id", "rank", "batch").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == naive)
  }

  test("grouped ntile: histogram-rank tile == builtin ntile, every n and skew") {
    import graft.operators.Batching
    val rnd = new scala.util.Random(11)
    // skewed key (en is ~70% of rows), heavy value ties, counts not
    // divisible by n, one key with fewer rows than n
    val docs = ((1L to 700L).map(i => (i, "en", 1L + rnd.nextInt(20).toLong)) ++
      (701L to 990L).map(i => (i, "es", 1L + rnd.nextInt(20).toLong)) ++
      (991L to 997L).map(i => (i, "de", 5L)))
      .toDF("id", "lang", "len")
    for (n <- Seq(1, 3, 10)) {
      val got = Batching.groupedNtile(docs, Seq("lang"), "len", "id", n, "tile")
        .select("id", "tile").as[(Long, Long)].collect().sortBy(_._1).toSeq
      val naive = docs.withColumn("tile",
        ntile(n).over(org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("len"), col("id"))).cast("long"))
        .select("id", "tile").as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == naive, s"n=$n")
    }
    // multi-key partitioning parity
    val two = docs.withColumn("src", (col("id") % 3).cast("string"))
    val got2 = Batching.groupedNtile(two, Seq("lang", "src"), "len", "id", 4, "tile")
      .select("id", "tile").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val naive2 = two.withColumn("tile",
      ntile(4).over(org.apache.spark.sql.expressions.Window
        .partitionBy("lang", "src").orderBy(col("len"), col("id"))).cast("long"))
      .select("id", "tile").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got2 == naive2)
    // reserved-name contract
    intercept[IllegalArgumentException] {
      Batching.groupedNtile(docs.withColumn("__off", lit(1)),
        Seq("lang"), "len", "id", 10, "tile")
    }
  }

  test("weighted sample: exact k, partition-invariant, heavy rows dominate") {
    import graft.operators.Sampling
    // 500 light rows (w=1) vs 500 heavy rows (w=100): heavy rows' priorities
    // are ~100x smaller, so a 100-row sample should be nearly all heavy
    val rows = (1L to 500L).map((_, 1L)) ++ (501L to 1000L).map((_, 100L))
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedSample(df, "id", "w", 100)
      .select("id", "w").as[(Long, Long)].collect().toSeq
    assert(got.size == 100)
    assert(got.count(_._2 == 100L) >= 90, s"heavy rows: ${got.count(_._2 == 100L)}")
    val again = Sampling.weightedSample(df.repartition(13), "id", "w", 100)
      .select("id", "w").as[(Long, Long)].collect().toSeq
    assert(again.sortBy(_._1) == got.sortBy(_._1))
  }

  test("epoch shards: partition-invariant, epoch-fresh, complete permutation") {
    import graft.operators.Sharding
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame, epoch: Int) =
      Sharding.assignShards(df, "doc_id", epoch, 4)
        .select("doc_id", "shard", "shard_pos")
        .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    val a = run(docs, 1)
    // independent of the input's physical partitioning
    assert(run(docs.repartition(7), 1) == a)
    // every shard's positions are exactly 1..size (a true permutation)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == (1L to rows.size).toSeq)
    }
    // a different epoch re-deals assignments (fresh permutation)
    assert(run(docs, 2) != a)
  }

  test("keywords: tf/df ranking, score ties break on term, k bound") {
    import graft.operators.TextSearch
    val docs = Seq(
      // doc 1: "rare" appears once and only here (score 1/1 = 1.0, top);
      // "common"/"x"/"y" all 1/2 -> three-way tie broken alphabetically
      (1L, "rare x y common"),
      (2L, "x y common common common")).toDF("doc_id", "text")
    val got = TextSearch.keywordsTopK(docs, "doc_id", "text", 3)
      .select("id", "rank", "term").as[(Long, Long, String)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (1L, 1L, "rare"), (1L, 2L, "common"), (1L, 3L, "x"),
      // doc 2: common tf=3 df=2 -> 1.5 beats x/y (0.5 each); k bounds to 3
      (2L, 1L, "common"), (2L, 2L, "x"), (2L, 3L, "y")))
  }

  test("duplicated spans: cross-doc windows flagged, within-doc repeats are not") {
    import graft.operators.Dedup
    val docs = Seq(
      // docs 1 and 2 share the span "a b c" (each contributes 1 window of 3)
      (1L, "a b c x y"),       // windows: "a b c","b c x","c x y" -> 1 dup
      (2L, "q a b c z"),       // windows: "q a b","a b c","b c z" -> 1 dup
      // doc 3 repeats its own trigram twice but shares nothing -> 0 dups
      (3L, "m n o m n o m n"), // 6 windows, "m n o" twice but only doc 3
      (4L, "t u")              // < 3 tokens -> excluded entirely
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", windowTokens = 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 1L, 1.0 / 3),
      (2L, 3L, 1L, 1.0 / 3),
      (3L, 6L, 0L, 0.0)))
  }

  test("gopher rules: each rule trips on its engineered doc, good doc passes") {
    import graft.operators.Quality
    val stopRich = (1 to 12).flatMap(i =>
      Seq("the", "cat", "and", s"dog$i", "of")).mkString(" ")       // 60 words
    val docs = Seq(
      (1L, stopRich),                                               // passes all
      (2L, "the and of tiny"),                                      // words_ok fails
      (3L, stopRich + " " + Seq.fill(12)("#").mkString(" ")),       // symbol_ok fails
      (4L, (1 to 12).flatMap(i =>
        Seq("the", "111", "and", "222", "of")).mkString(" ")),      // alpha_ok fails
      (5L, (1 to 60).map(i => s"zz$i").mkString(" ")),              // stop_ok fails
      (6L, (1 to 60).map(i => "q" * 15).mkString(" ")))             // word_len_ok fails
      .toDF("doc_id", "text")
    val got = Quality.gopherRules(docs, "text")
      .select("doc_id", "words_ok", "word_len_ok", "symbol_ok", "alpha_ok",
        "stop_ok", "pass")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._7)) ==
      Seq((1L, true), (2L, false), (3L, false), (4L, false), (5L, false), (6L, false)))
    val byId = got.map(r => r._1 -> r).toMap
    assert(!byId(2L)._2 && byId(2L)._3)          // only the word count tripped
    assert(byId(3L)._2 && !byId(3L)._4)          // only the symbol ratio tripped
    assert(byId(4L)._2 && !byId(4L)._5)          // only the alpha fraction tripped
    assert(byId(5L)._2 && !byId(5L)._6)          // only the stop-word rule tripped
    assert(byId(6L)._2 && !byId(6L)._3)          // only the mean word length tripped
  }

  test("bpe training: merge sequence == brute-force reference; segment agrees") {
    import graft.operators.Bpe
    // the Sennrich corpus shape: frequent subwords (es/est/lo) emerge
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val docs = words.grouped(4).map(_.mkString(" ")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")

    // independent reference implementation (plain Scala, no Spark)
    def refMerge(s: List[String], a: String, b: String): List[String] = s match {
      case x :: y :: rest if x == a && y == b => (a + b) :: refMerge(rest, a, b)
      case x :: rest => x :: refMerge(rest, a, b)
      case Nil => Nil
    }
    def refTrain(freqs: Map[String, Long], n: Int): (List[(String, String)], Map[String, List[String]]) = {
      var segs = freqs.keys.map(w => w -> w.split("").toList).toMap
      var merges = List.empty[(String, String)]
      var go = n > 0
      while (go) {
        val counts = segs.toSeq.flatMap { case (w, s) =>
          s.zip(s.drop(1)).map(p => p -> freqs(w)) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        val best = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
        best.filter(_._2 >= 2L) match {
          case Some(((a, b), _)) =>
            merges = merges :+ (a, b)
            segs = segs.map { case (w, s) => w -> refMerge(s, a, b) }
            go = merges.size < n
          case None => go = false
        }
      }
      (merges, segs)
    }
    val freqs = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val (refMerges, refSegs) = refTrain(freqs, 10)

    val (gotMerges, table) = Bpe.train(docs, "text", numMerges = 10)
    assert(gotMerges == refMerges)
    assert(refMerges.nonEmpty && refMerges.size >= 5)
    val gotSegs = table.select("word", "syms").as[(String, Seq[String])]
      .collect().map { case (w, s) => w -> s.toList }.toMap
    assert(gotSegs == refSegs)

    // partition invariance: 7-way repartitioned corpus learns bit-identical merges
    val (again, _) = Bpe.train(docs.repartition(7), "text", numMerges = 10)
    assert(again == gotMerges)

    // segment() replays the trainer's rewriting on unseen words
    val seg = Seq("lowest", "newer").toDF("w")
      .select(Bpe.segment(col("w"), gotMerges).as("s"))
      .as[Seq[String]].collect().map(_.toList).toSeq
    val refSeg = Seq("lowest", "newer").map(w =>
      gotMerges.foldLeft(w.split("").toList) { case (s, (a, b)) => refMerge(s, a, b) })
    assert(seg == refSeg)

    // encodeCorpus: seen words come from the table, unseen through the
    // merge chain, positions reassemble each document's subword stream
    val enc = Bpe.encodeCorpus(
      Seq((1L, "low lowest"), (2L, "newest newer")).toDF("doc_id", "text"),
      "doc_id", "text", table, gotMerges)
      .as[(Long, Int, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (r._2, r._3)).map(_._4).toList)
      .toMap
    val refWord = Map(
      "low" -> refSegs("low"), "newest" -> refSegs("newest"),
      "lowest" -> refSeg(0), "newer" -> refSeg(1))
    assert(enc == Map(
      1L -> (refWord("low") ++ refWord("lowest")),
      2L -> (refWord("newest") ++ refWord("newer"))))
  }

  test("minhash bucket stats: distinct-signature grain, pair_work tracks the harvest") {
    import graft.operators.Dedup
    def stats(rows: Seq[(Long, String)]) =
      Dedup.minhashBucketStats(rows.toDF("doc_id", "text"), "doc_id", "text",
        shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
        .as[(Long, Long, Long, Long, Long)].collect().head
    val a = (Seq("the", "quick", "brown", "fox") ++ (1 to 8).map(i => s"a$i")).mkString(" ")
    val uniques = (1 to 5).map(i => (100L + i, (1 to 12).map(j => s"u${i}_$j").mkString(" ")))
    // 10 exact copies of A collapse to ONE signature: occupancy never sees
    // the duplication flood (the q18 exact-dup-collapse move, as a probe)
    val (nb, rows, maxOcc, multi, work) =
      stats((1L to 10L).map(i => (i, a)) ++ uniques)
    assert(rows == 6L * 4L && nb == rows && maxOcc == 1L && multi == 0L && work == 0L)
    // a true near-dup of A adds one distinct signature; every band where
    // the two signatures agree is one occ-2 bucket, each worth 1 expansion
    val withNear = (1L to 10L).map(i => (i, a)) ++ uniques :+ (200L, a + " tail")
    val (_, _, m2, multi2, work2) = stats(withNear)
    assert(work2 == multi2 && m2 <= 2L)
    val pairs = Dedup.minhashCandidatePairs(withNear.toDF("doc_id", "text"),
      "doc_id", "text", shingleSize = 2, numHashes = 32, rowsPerBand = 8,
      portable = true).collect()
    // probe and harvest agree on whether any cross-signature pair exists
    // (within-group exact-dup pairs don't go through buckets)
    assert((work2 > 0) == pairs.exists(_.getDouble(2) < 1.0))
  }

  test("duplicated span ranges: overlapping windows merge maximal, gaps split") {
    import graft.operators.Dedup
    val docs = Seq(
      // doc 1 vs doc 2: shared run "a b c d" (two overlapping 3-windows,
      // starts 1,2 -> ONE maximal range 1..4) and a separate shared
      // trigram "x y z" later (start 7 > 2+3 -> its own range 7..9)
      (1L, "a b c d q r x y z"),
      (2L, "a b c d s t x y z"),
      // doc 3 repeats its own trigram but shares nothing cross-doc -> no rows
      (3L, "m n o m n o m n o")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanRanges(docs, "doc_id", "text", windowTokens = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (1L, 1L, 4L, 4L), (1L, 7L, 9L, 3L),
      (2L, 1L, 4L, 4L), (2L, 7L, 9L, 3L)))

    // brute-force differential on messy random text (small vocab forces
    // heavy cross-doc window collisions and both merge and split cases)
    val rnd = new scala.util.Random(19)
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
    val corpus = (1L to 60L).map { i =>
      (i, Seq.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val w = 4
    val gotBig = Dedup.duplicatedSpanRanges(corpus.toDF("doc_id", "text"),
      "doc_id", "text", w)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val wins = corpus.map { case (id, txt) =>
      val t = txt.trim.toLowerCase.split("\\s+")
      id -> t.sliding(w).zipWithIndex.map { case (g, i) => (i + 1, g.mkString(" ")) }.toSeq
    }
    val nDocs = wins.flatMap { case (id, ws) => ws.map(x => (x._2, id)) }
      .distinct.groupBy(_._1).view.mapValues(_.size).toMap
    val expected = wins.flatMap { case (id, ws) =>
      val dupStarts = ws.collect { case (p, s) if nDocs(s) >= 2 => p }
      val islands = dupStarts.foldLeft(List.empty[(Int, Int)]) {
        case (Nil, s) => List((s, s))
        case ((a, b) :: rest, s) =>
          if (s - b <= w) (a, s) :: rest else (s, s) :: (a, b) :: rest
      }.reverse
      islands.map { case (a, b) =>
        (id, a.toLong, (b + w - 1).toLong, (b + w - a).toLong) }
    }.sortBy(r => (r._1, r._2))
    assert(gotBig == expected)
  }

  test("cut spans: duplicated ranges removed, case kept, n_cut ties to ranges") {
    import graft.operators.Dedup
    // docs 1/2 share "A b c d" (tokens 1-4) and "x y z" (7-9); the cut
    // leaves the middles; doc 3 is untouched but still rebuilt normalized
    val docs = Seq(
      (1L, "A b c d q r x y z"),
      (2L, "a B c d s t x y z"),
      (3L, "  m n  o p ")
    ).toDF("doc_id", "text")
    val got = Dedup.cutDuplicatedSpans(docs, "doc_id", "text", windowTokens = 3)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "q r", 7L), (2L, "s t", 7L), (3L, "m n o p", 0L)))

    // invariant on messy random text: per doc, n_cut == the ranges'
    // span_tokens total, and the rebuilt text is the uncovered positions
    val rnd = new scala.util.Random(23)
    val vocab = Array("a", "b", "c", "d", "e", "f")
    val corpus = (1L to 40L).map { i =>
      (i, Seq.fill(25)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val w = 4
    val cut = Dedup.cutDuplicatedSpans(corpus.toDF("doc_id", "text"), "doc_id", "text", w)
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val ranges = Dedup.duplicatedSpanRanges(corpus.toDF("doc_id", "text"),
      "doc_id", "text", w)
      .as[(Long, Long, Long, Long)].collect().groupBy(_._1)
    for ((id, txt) <- corpus) {
      val toks = txt.split("\\s+")
      val rs = ranges.getOrElse(id, Array.empty)
      val covered = rs.flatMap(r => r._2 to r._3).toSet
      val expect = toks.zipWithIndex.collect {
        case (t, i) if !covered.contains(i + 1L) => t }.mkString(" ")
      assert(cut(id) == ((expect, rs.map(_._4).sum)), s"doc $id")
    }
  }

  test("z-order: known interleavings, and aligned z-buckets bound both dims") {
    import graft.operators.Layout
    val known = Seq((0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L), (3L, 5L, 39L))
    val got = known.map { case (x, y, _) => (x, y) }.toDF("x", "y")
      .select(Layout.zValue2(col("x"), col("y"), 16).as("z"))
      .as[Long].collect().toSeq
    assert(got == known.map(_._3))
    // an aligned 2^16 z-range fixes every bit above position 15 — x and y
    // are each confined to a 256-aligned window inside any bucket
    val rnd = new scala.util.Random(41)
    val pts = (1 to 5000).map(_ => (rnd.nextInt(1 << 16).toLong,
      rnd.nextInt(1 << 16).toLong)).toDF("x", "y")
    val spans = pts
      .select(col("x"), col("y"),
        shiftright(Layout.zValue2(col("x"), col("y"), 16), 16).as("b"))
      .groupBy("b")
      .agg((max("x") - min("x")).as("dx"), (max("y") - min("y")).as("dy"))
      .agg(max("dx"), max("dy")).as[(Long, Long)].collect().head
    assert(spans._1 <= 255 && spans._2 <= 255, spans.toString)
  }

  test("cdc chunks: exact tiling, and an early edit leaves later chunks stable") {
    import graft.operators.Chunking
    val rnd = new scala.util.Random(33)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val body = Seq.fill(400)(words(rnd.nextInt(words.length)))
    val original = (1L, body.mkString(" "))
    // insert one token near the front — content-defined boundaries must
    // re-anchor, so chunks after the edited one keep identical hashes
    val edited = (2L, (body.take(3) ++ Seq("INSERTED") ++ body.drop(3)).mkString(" "))
    val df = Seq(original, edited).toDF("doc_id", "text")
    val chunks = Chunking.cdcChunks(df, "doc_id", "text", windowTokens = 4, divisor = 16)
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).toSeq }
    val o = chunks(1L); val e = chunks(2L)
    // exact tiling: starts/lengths cover 1..n with no gaps or overlap
    for (c <- Seq(o, e)) {
      assert(c.head._3 == 1L)
      c.sliding(2).foreach {
        case Seq((_, _, s1, n1, _), (_, _, s2, _, _)) => assert(s2 == s1 + n1)
        case _ =>
      }
    }
    assert(o.map(_._4).sum == 400L && e.map(_._4).sum == 401L)
    // all chunk hashes from the second chunk after the edit onward realign
    val oh = o.map(_._5); val eh = e.map(_._5)
    val commonTail = oh.reverse.zip(eh.reverse).takeWhile { case (a, b) => a == b }.size
    assert(commonTail >= oh.size - 2,
      s"only $commonTail of ${oh.size} trailing chunks realigned")
    assert(oh != eh)
  }

  test("incremental span screen == one-shot screen restricted to the batch") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(9)
    val words = Array("a", "b", "c", "d", "e", "f")
    val docs = (1L to 60L).map { i =>
      (i, Seq.fill(6 + rnd.nextInt(6))(words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val store = Dedup.spanWindowHashes(docs.filter(col("doc_id") % 4 =!= 0),
      "doc_id", "text", windowTokens = 3).select("h").distinct()
    val inc = Dedup.duplicatedSpansIncremental(batch, store, "doc_id", "text", 3)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // a batch window is duplicated iff some OTHER doc (store or batch)
    // shares it -> identical to the one-shot screen on the full corpus,
    // restricted to batch ids
    val full = Dedup.duplicatedSpans(docs, "doc_id", "text", 3)
      .filter(col("id") % 4 === 0)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(inc == full)
    assert(inc.nonEmpty)
  }

  test("semantic dedup: within-cluster merge, cross-cluster pairs ignored") {
    import graft.operators.Dedup
    // two orthogonal cluster axes; ids 1/2/3 on axis-x (3 slightly rotated),
    // ids 10/11 on axis-y. 1~2~3 are mutual near-dups within one cluster;
    // 10~11 within the other. Cross-cluster cosines are ~0 -> never compared
    // anyway under cluster scoping.
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat, 0f, 0f)
    val emb = Seq(
      (1L, v(1, 0)), (2L, v(0.999, 0.04)), (3L, v(0.995, 0.1)),
      (10L, v(0, 1)), (11L, v(0.04, 0.999))).toDF("vec_id", "embedding")
    val cents = Seq((0, Seq(1f, 0f, 0f, 0f)), (1, Seq(0f, 1f, 0f, 0f)))
    val got = Dedup.semanticDedupGroups(emb, "vec_id", "embedding", cents, 0.9)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))

    // cross-cluster near-pair is NOT merged (the SemDeDup recall trade):
    // 20 sits at 45 degrees (assigned to cluster 0 by tie-break), 21 leans
    // y-side -> different cluster, despite cos(20,21) ~ 0.99
    val emb2 = Seq(
      (20L, v(0.7071, 0.7071)), (21L, v(0.60, 0.80))).toDF("vec_id", "embedding")
    val got2 = Dedup.semanticDedupGroups(emb2, "vec_id", "embedding", cents, 0.9)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got2 == Seq((20L, 20L, true), (21L, 21L, true)))
  }

  test("semantic dedup auto: derived sqrt(n) centroids == explicit call") {
    import graft.operators.{Dedup, Similarity}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val nlist = math.ceil(math.sqrt(n.toDouble)).toInt
    val auto = Dedup.semanticDedupGroupsAuto(emb, "vec_id", "embedding", 0.42)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val explicit = Dedup.semanticDedupGroups(emb, "vec_id", "embedding",
      Similarity.headCentroids(emb, "vec_id", "embedding", nlist), 0.42)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(auto == explicit && auto.size == n)
  }
}
