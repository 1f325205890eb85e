package graft

import graft.functions.TextScrub
import graft.operators.{Decontamination, Dedup}
import org.apache.spark.sql.functions._

/** Round-5 pipeline operators: benchmark decontamination, incremental
  * dedup against a signature store, PII scrubbing. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("contamination report: containment=1.0, half overlap at threshold, disjoint dropped") {
    val test = Seq((100L, "w1 w2 w3 w4 w5 w6")).toDF("test_id", "text")
    val corpus = Seq(
      (1L, "prefix tokens then w1 w2 w3 w4 w5 w6 and a suffix"), // contains all 4 trigrams
      (2L, "w1 w2 w3 w4 x y z"),                                 // shares 2 of 4 = 0.5
      (3L, "completely different words here"),                   // 0
      (4L, "w2 w3")                                              // shorter than n: no grams
    ).toDF("doc_id", "text")
    val got = Decontamination.contaminationReport(
      corpus, "doc_id", "text", test, "test_id", "text", n = 3, minOverlapFrac = 0.5)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._3, r._5)).toSeq == Seq((1L, 4L, 1.0), (2L, 2L, 0.5)))
    // duplicated n-grams in a doc count once (distinct matched)
    val dup = Seq((9L, "w1 w2 w3 w1 w2 w3 w1 w2 w3")).toDF("doc_id", "text")
    val g2 = Decontamination.contaminationReport(
      dup, "doc_id", "text", test, "test_id", "text", n = 3, minOverlapFrac = 0.1)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(g2.length == 1 && g2(0)._3 == 1L) // only 'w1 w2 w3' matches, once
  }

  test("incremental minhash pairs == batch(all) minus batch(store)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isBatch = col("doc_id") % 10 === 0
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashCandidatePairs(df, "doc_id", "text",
        shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
        .as[(Long, Long, Double)].collect().toSet
    def band(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashBandTable(df, "doc_id", "text",
        shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
    val all = pairsOf(docs)
    val storeOnly = pairsOf(docs.filter(!isBatch))
    val inc = Dedup.minhashIncrementalPairs(
      band(docs.filter(isBatch)), band(docs.filter(!isBatch)))
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == (all -- storeOnly), s"inc=${inc.size} all=${all.size} store=${storeOnly.size}")
    assert(inc.nonEmpty, "testdata should produce at least one new-sided pair")
  }

  test("incremental minhash pairs: a replayed batch emits no self-pair") {
    // the batch's ids are already in the store (a replay after a crash):
    // each replayed id shares every band bucket with its own stored copy
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val isBatch = col("doc_id") % 10 === 0
    val store = Dedup.minhashBandTable(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
    val inc = Dedup.minhashIncrementalPairs(store.filter(col("id") % 10 === 0), store)
      .as[(Long, Long, Double)].collect()
    assert(!inc.exists(p => p._1 == p._2),
      s"self-pairs: ${inc.filter(p => p._1 == p._2).take(5).mkString(", ")}")
    // and what remains is exactly the one-shot pairs that touch the batch
    val batchIds = docs.filter(isBatch).select("doc_id").as[Long].collect().toSet
    val touching = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
      .as[(Long, Long, Double)].collect()
      .filter(p => batchIds(p._1) || batchIds(p._2)).toSet
    assert(inc.toSet == touching, s"inc=${inc.length} touching=${touching.size}")
  }

  test("incremental probe reads only touched buckets (broadcast semi-join, no store-wide harvest)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def band(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashBandTable(df, "doc_id", "text",
        shingleSize = 2, numHashes = 32, rowsPerBand = 8, portable = true)
    val p = Dedup.minhashIncrementalPairs(
      band(docs.filter(col("doc_id") % 10 === 0)),
      band(docs.filter(col("doc_id") % 10 =!= 0)))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "touched-bucket prune must be a broadcast semi-join:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p.take(2000))
  }

  test("domain mixing: integer rates honor the budget; oversampled sources cap at 1e6") {
    import graft.operators.Mixing
    // source a: 1000 tokens, b: 100, c: 10 — uniform budget 300/source
    val totals = Map("a" -> 1000L, "b" -> 100L, "c" -> 10L)
    val rates = Mixing.ratesPpm(totals, budgetTokens = 900L,
      weightsPpm = Map("a" -> 333333L, "b" -> 333333L, "c" -> 333333L))
    assert(rates("a") == 299000L)       // (900*333333/1e6)*1e6/1000 = 299 * 1000
    assert(rates("b") == 1000000L)      // budget 299 > 100 tokens -> capped
    assert(rates("c") == 1000000L)
    // unknown source -> rate over max(0,1) tokens, still capped at 1e6
    assert(Mixing.ratesPpm(Map.empty, 10L, Map("x" -> Mixing.Ppm))("x") == Mixing.Ppm)

    // determinism + rate application: same filter decisions on re-run
    val docs = (1L to 2000L).map(i =>
      (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c", 10L))
      .toDF("doc_id", "source", "n_tokens")
    val m1 = Mixing.mixUniform(docs, "doc_id", "source", "n_tokens", 6000L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val m2 = Mixing.mixUniform(docs, "doc_id", "source", "n_tokens", 6000L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(m1 == m2 && m1.nonEmpty)
    // realized token share per source lands near the target (ppm sampler
    // is exact-rate, not exact-count; 10-token docs -> ±1 doc tolerance)
    val share = Mixing.mixUniform(docs, "doc_id", "source", "n_tokens", 6000L)
      .groupBy("source").agg(sum("n_tokens").as("t"))
      .as[(String, Long)].collect().toMap
    share.values.foreach(t => assert(math.abs(t - 2000L) <= 400L, share.toString))
  }

  test("doremi mix: excess-loss domains gain weight, zero-excess domains shed it") {
    import graft.operators.Mixing
    // domain a: loss 100 over ref everywhere; b: exactly at ref; c: under
    // ref (clamped to 0 excess — must tie b in weight, never go negative)
    val rows = (1L to 300L).map { i =>
      val d = if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"
      val (loss, ref) = d match {
        case "a" => (1100L, 1000L)
        case "b" => (1000L, 1000L)
        case _   => (900L, 1000L)
      }
      (d, loss, ref)
    }
    val got = Mixing.excessLossMixPpm(
        rows.toDF("domain", "loss", "ref"), "domain", "loss", "ref")
      .orderBy("domain")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == Seq("a", "b", "c"))
    val byD = got.map(g => g._1 -> g).toMap
    assert(byD("a")._3 == 100000000L, "mean excess fp = 100·1e6")
    assert(byD("b")._3 == 0L && byD("c")._3 == 0L, "clamped excess")
    assert(byD("a")._4 > byD("b")._4, "excess domain must be up-weighted")
    assert(byD("b")._4 == byD("c")._4, "identical excess → identical weight")
    assert(byD("a")._5 == 1L, "rank 1 = most up-weighted")
    // weights stay a distribution: ppm sum within renorm floor slack
    val s = got.map(_._4).sum
    assert(s >= 999990L && s <= 1000010L, s"ppm sum $s")
  }

  test("doremi mix: uniform excess is a fixed point") {
    import graft.operators.Mixing
    val rows = (1L to 100L).map { i =>
      (if (i % 2 == 0) "x" else "y", 1500L, 1000L) }
    val got = Mixing.excessLossMixPpm(
        rows.toDF("domain", "loss", "ref"), "domain", "loss", "ref")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.map(_._4).distinct.length == 1,
      s"equal excess must keep the uniform mixture: ${got.toSeq}")
    assert(got.forall(_._4 == 500000L))
  }

  test("incremental exact dedup: only first-ever-seen fingerprints survive") {
    val store = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha  beta"),  // whitespace-normalized dup of store doc 1
      (11L, "delta"), (12L, "delta"), // new content, within-batch dup
      (13L, "epsilon")
    ).toDF("doc_id", "text")
    val storeFps = Dedup.exactGroups(store, "doc_id", "text").select("fp")
    val pruned = Dedup.incrementalExactNew(batch, storeFps, "doc_id", "text")
    val got = pruned
      .as[(String, Long, Long)].collect().map(r => (r._2, r._3)).toSet
    assert(got == Set((2L, 11L), (1L, 13L))) // delta x2 keep 11; epsilon; alpha-beta dropped
    // the bloom store-prune is result-invisible (false positives die in the
    // exact anti join) and must sit in the store-side scan stage
    val unpruned = Dedup.incrementalExactNew(batch, storeFps, "doc_id", "text",
        pruneStore = false)
      .as[(String, Long, Long)].collect().map(r => (r._2, r._3)).toSet
    assert(unpruned == got)
    // plan pin on the parquet-backed q65 (over LocalRelations the filter is
    // constant-folded into the scan at optimize time and leaves no node)
    val p65 = SparkEntry.queries("q65_incremental_exact")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p65.contains("might_contain"),
      "store scan must be bloom-pruned before the anti join:\n" + p65.take(2000))
  }

  test("bpe pretokenizer: splits letter/digit/punct runs; whitespace undercounts") {
    import graft.functions.TextFunctions
    val rows = Seq((1L, "pay $1,234.56 now!"), (2L, "plain words only"), (3L, "a1b2"))
      .toDF("id", "t")
      .select(col("id"), TextFunctions.tokenCount(col("t")).as("ws"),
        TextFunctions.bpeTokenCount(col("t")).as("bpe"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // "pay" " $" "1" "," "234" "." "56" " now" "!" = 9 vs 3 whitespace tokens
    assert(rows(0) == ((1L, 3L, 9L)))
    assert(rows(1) == ((2L, 3L, 3L))) // pure words: identical
    assert(rows(2) == ((3L, 1L, 4L))) // a 1 b 2
  }

  test("pii scrub: detection counts, redaction, untouched text") {
    val rows = Seq(
      (1L, "mail a.b+c@x-y.co then call 555-1234 from 10.0.200.9 done"),
      (2L, "two mails p@q.io r@s.net and ips 1.2.3.4 5.6.7.8"),
      (3L, "nothing sensitive here 555-12 and 1.2.3 stay")
    ).toDF("id", "t")
    val got = rows.select(col("id"),
      TextScrub.emailCount(col("t")).as("e"),
      TextScrub.phoneCount(col("t")).as("p"),
      TextScrub.ipv4Count(col("t")).as("i"),
      TextScrub.scrub(col("t")).as("s"))
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 1, 1, 1, "mail <EMAIL> then call <PHONE> from <IP> done")))
    assert(got(1) == ((2L, 2, 0, 2, "two mails <EMAIL> <EMAIL> and ips <IP> <IP>")))
    assert(got(2) == ((3L, 0, 0, 0, "nothing sensitive here 555-12 and 1.2.3 stay")))
  }

  test("quantized gram matrix == explode-based brute force; single ObjectHashAggregate pass") {
    val emb = Seq(
      (1L, Array(1.0f, -2.0f, 3.0f)),
      (2L, Array(0.5f, 0.25f, -1.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f)), // zero vector: scale 0, quantizes to zeros
      (4L, Array(-4.0f, 4.0f, 2.0f))
    ).toDF("vec_id", "embedding")
    val got = graft.operators.Gram.quantizedGram(emb, "vec_id", "embedding", dim = 3)
      .as[(Int, Int, Long)].collect().toSeq

    // brute force over the same quantized grid, via explode + groupBy
    val q = graft.operators.Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .select(posexplode(transform(col("qvec"), x => x.cast("long"))).as(Seq("i", "vi")),
        col("qvec"))
      .select(col("i"), col("vi"),
        posexplode(transform(col("qvec"), x => x.cast("long"))).as(Seq("j", "vj")))
      .filter(col("i") <= col("j"))
      .groupBy("i", "j").agg(sum(col("vi") * col("vj")).as("g"))
      .select(col("i").cast("int"), col("j").cast("int"), col("g"))
      .as[(Int, Int, Long)].collect().toSeq.sorted
    assert(got == q)
    assert(got.length == 6) // dim*(dim+1)/2
    // diagonal of the zero-included corpus is strictly positive (127^2 terms)
    assert(got.filter(c => c._1 == c._2).forall(_._3 > 0))

    // plan: ONE aggregate pass over the corpus, no explode before it
    val plan = graft.operators.Gram.quantizedGram(emb, "vec_id", "embedding", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    // plan strings print downstream-first: the aggregate's INPUT subtree is
    // the text after the last ObjectHashAggregate node
    assert(!plan.split("ObjectHashAggregate").last.contains("Generate"),
      "no explode may run before the aggregate")
  }
}
