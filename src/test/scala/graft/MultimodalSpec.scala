package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "first document text"), (1L, "second one"), (2L, "third"), (3L, "fourth"))
    .toDF("doc_id", "text")
  private lazy val media = Multimodal.synthesizeMedia(docs, "doc_id", "text")

  test("synthesized media matches the multimodal schema contract") {
    assert(media.schema.fieldNames.toSeq ==
      Multimodal.mediaSchema.fieldNames.toSeq)
    assert(media.count() == 4)
    val types = media.select("media_type").distinct().as[String].collect().toSet
    assert(types == Set("image", "audio", "video"))
  }

  test("decodeFeatures is deterministic, batched, and null-safe") {
    val decoded = Multimodal.decodeFeatures(media, dim = 8)
    val rows = decoded.select("media_id", "feature", "decode_ok")
      .as[(Long, Seq[Float], Boolean)].collect().sortBy(_._1)
    // real codec path only on image rows (id % 3 == 0); opaque stand-ins
    // take the fallback with decode_ok = false
    assert(rows.forall { case (id, _, ok) => ok == (id % 3 == 0) })
    assert(rows.forall(_._2.length == 8))
    // deterministic across runs
    val again = Multimodal.decodeFeatures(media, dim = 8)
      .select("media_id", "feature", "decode_ok")
      .as[(Long, Seq[Float], Boolean)].collect().sortBy(_._1)
    assert(rows.toSeq == again.toSeq)
    // null payload -> decode_ok = false
    val withNull = media.withColumn("payload",
      when(col("media_id") === 0, lit(null).cast("binary")).otherwise(col("payload")))
    val nullRow = Multimodal.decodeFeatures(withNull)
      .filter(col("media_id") === 0).select("decode_ok").as[Boolean].head()
    assert(!nullRow)
  }

  test("image rows round-trip through the real PNG codec exactly") {
    val decoded = Multimodal.decodeFeatures(media, dim = 8)
      .filter(col("media_type") === "image")
      .select("media_id", "decoded_width", "decoded_height", "gray_sum", "feature")
      .as[(Long, Int, Int, Long, Seq[Float])].collect()
    assert(decoded.nonEmpty)
    decoded.foreach { case (id, w, h, gs, feat) =>
      // decoded dims == the metadata the encoder was given
      assert(w == (id % 32 + 1).toInt && h == (id % 24 + 1).toInt)
      // decoded pixels == the closed-form pixel law, checksum + histogram
      val grays = for (y <- 0 until h; x <- 0 until w)
        yield Multimodal.pixelGray(id, x, y)
      assert(gs == grays.map(_.toLong).sum)
      val hist = new Array[Float](8)
      grays.foreach(g => hist(g * 8 / 256) += 1f)
      assert(feat == hist.toSeq)
    }
  }

  test("sampleFrames explodes one row per sampled frame") {
    val frames = Multimodal.sampleFrames(media, everyMs = 40L)
    // only video rows (doc_id % 3 == 2): id 2, duration 80ms -> frames 0,40
    val got = frames.select("media_id", "frame_ms").as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 0L), (2L, 40L)))
  }

  /** The closed-form aHash twin of [[Multimodal.aHashBands]]: the decoded
    * PNG pixels ARE the pixel law (lossless codec), so the bands computed
    * through the REAL decode must equal this law-only replica. */
  private def lawBands(id: Long): Seq[Int] = {
    val w = (id % 32 + 1).toInt
    val h = (id % 24 + 1).toInt
    val g = for (j <- 0 until 8; i <- 0 until 8)
      yield Multimodal.pixelGray(id, (i * w) / 8, (j * h) / 8)
    val mean = g.map(_.toLong).sum / 64
    val bands = new Array[Int](4)
    for (p <- 0 until 64 if g(p) >= mean) bands(p / 16) |= 1 << (p % 16)
    bands.toSeq
  }

  test("aHashBands: the real-codec hash equals the closed-form pixel law") {
    val manyDocs = (0L until 60L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val m = Multimodal.synthesizeMedia(manyDocs, "doc_id", "text")
      .filter(col("media_type") === "image")
    val got = Multimodal.aHashBands(m)
      .as[(Long, Seq[Int])].collect().toMap
    assert(got.size == 20) // ids 0,3,...,57
    got.foreach { case (id, bands) =>
      assert(bands == lawBands(id), s"id=$id: $bands vs ${lawBands(id)}")
    }
    // non-image payloads (no JDK reader) are dropped, not faked
    val all = Multimodal.aHashBands(Multimodal.synthesizeMedia(
      manyDocs, "doc_id", "text"))
    assert(all.count() == 20)
  }

  /** Closed-form dHash twin of [[Multimodal.perceptualHashBands]]'s
    * gradient half: (grid+1)×grid lattice, bit = right-neighbor `>`. */
  private def lawDBands(id: Long): Seq[Int] = {
    val w = (id % 32 + 1).toInt
    val h = (id % 24 + 1).toInt
    val bands = new Array[Int](4)
    for (j <- 0 until 8; i <- 0 until 8) {
      val a = Multimodal.pixelGray(id, (i * w) / 9, (j * h) / 8)
      val b = Multimodal.pixelGray(id, ((i + 1) * w) / 9, (j * h) / 8)
      if (b > a) { val p = j * 8 + i; bands(p / 16) |= 1 << (p % 16) }
    }
    bands.toSeq
  }

  test("perceptualHashBands: one decode pass, both hashes equal the pixel law") {
    val manyDocs = (0L until 60L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val m = Multimodal.synthesizeMedia(manyDocs, "doc_id", "text")
      .filter(col("media_type") === "image")
    val got = Multimodal.perceptualHashBands(m)
      .as[(Long, Seq[Int], Seq[Int])].collect()
    assert(got.length == 20)
    got.foreach { case (id, ab, db) =>
      assert(ab == lawBands(id), s"id=$id aHash: $ab vs ${lawBands(id)}")
      assert(db == lawDBands(id), s"id=$id dHash: $db vs ${lawDBands(id)}")
    }
  }

  /** Encode an arbitrary gray-pixel function as real PNG bytes (test-side
    * twin of the fixture encoder, for perturbed variants). */
  private def pngOf(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = gray(x, y) & 0xff
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dualHashPairs: union banding survives a tone-curve edit that kills aHash") {
    // base images from the pixel law + a gamma-curve twin (g -> g*g/255):
    // a MONOTONE tone remap preserves every neighbor comparison, so dHash
    // is (near-)invariant, while the mean of the remapped grays moves
    // nonlinearly and flips every aHash bit whose gray sits between the
    // old and new thresholds — the classic aHash failure mode
    val w = 24; val h = 16
    val baseIds = (0L until 30L by 3).toSeq
    val rows = baseIds.flatMap { id =>
      def base(x: Int, y: Int) = Multimodal.pixelGray(id, x, y)
      Seq(
        (id, pngOf(w, h, base)),
        (id + 1000L, pngOf(w, h, (x, y) => { val g = base(x, y); g * g / 255 })))
    }
    val media = rows.toDF("media_id", "payload")
    val hashes = Multimodal.perceptualHashBands(media)
    val planted = baseIds.map(id => (id, id + 1000L)).toSet
    val aOnly = graft.operators.Dedup.aHashPairs(
      hashes.select(col("media_id"), col("abands").as("bands")),
      "media_id", "bands", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val dual = graft.operators.Dedup.dualHashPairs(
      hashes, "media_id", "abands", "dbands", maxHamming = 3)
    val dualPairs = dual.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val aRecall = planted.intersect(aOnly).size
    val dualRecall = planted.intersect(dualPairs).size
    assert(dualRecall >= aRecall, s"union recall $dualRecall < aHash $aRecall")
    // measured on this fixture: every planted pair sits at aHash Hamming
    // 4-6 but dHash Hamming <= 1 — the union must recover ALL of them
    // while aHash-only recovers none
    assert(aRecall == 0, s"fixture drifted: aHash-only recalled $aRecall")
    assert(dualRecall == planted.size,
      s"union recalled only $dualRecall of ${planted.size}")
    // full brute-force differential: emitted == all pairs with either
    // Hamming <= 3, with exact per-family distances
    val hm = hashes.as[(Long, Seq[Int], Seq[Int])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    def hamming(a: Seq[Int], b: Seq[Int]): Long =
      (0 until 4).map(i => Integer.bitCount(a(i) ^ b(i))).sum.toLong
    val ids = hm.keys.toSeq.sorted
    val expect = (for {
      a <- ids; b <- ids if a < b
      ha = hamming(hm(a)._1, hm(b)._1)
      hd = hamming(hm(a)._2, hm(b)._2)
      if math.min(ha, hd) <= 3
    } yield (a, b, ha, hd)).toSet
    val got = dual.as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expect, s"got ${got.size} vs expected ${expect.size}")
  }

  test("dualHashBucketStats equals the brute-force bucket census") {
    val manyDocs = (0L until 90L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val m = Multimodal.synthesizeMedia(manyDocs, "doc_id", "text")
      .filter(col("media_type") === "image")
    val hashes = Multimodal.perceptualHashBands(m)
    val got = graft.operators.Dedup.dualHashBucketStats(
      hashes, "abands", "dbands")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    val all = hashes.as[(Long, Seq[Int], Seq[Int])].collect()
    val groups = all.groupBy(t => (t._2, t._3)).values.map(_.size).toSeq
    val fps = all.map(t => (t._2, t._3)).distinct
    val occ = fps.flatMap { case (ab, db) =>
      (ab ++ db).zipWithIndex.map { case (bk, bno) => (bno, bk) }
    }.groupBy(identity).map(_._2.size).toSeq
    val expect = (all.length.toLong, fps.size.toLong,
      groups.map(g => g.toLong * (g - 1) / 2).sum,
      occ.size.toLong, fps.size.toLong * 8, occ.max.toLong,
      occ.count(_ >= 2).toLong, occ.map(o => o.toLong * (o - 1) / 2).sum)
    assert(got == expect, s"$got vs $expect")
  }

  test("aHashPairs equals brute-force all-pairs Hamming (pigeonhole-complete to 3)") {
    // one table over the banded-Hamming families — aHash, aHash + dHash
    // (gated on the nearer of the two distances) and SimHash (one 64-bit
    // word, 4 x 16-bit blocks) — each against brute-force all-pairs
    // Hamming. Random 4x16-bit fingerprints carry planted near-dups and
    // planted exact-duplicate groups, and the input is spread over 4
    // partitions so each bucket's members arrive from several map tasks.
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt >= 3)
    val rnd = new scala.util.Random(7)
    def flip(b: Array[Int], k: Int): Array[Int] = {
      val c = b.clone()
      var left = k
      while (left > 0) {
        val p = rnd.nextInt(64)
        c(p / 16) ^= 1 << (p % 16) // may re-flip: hamming <= k, fine
        left -= 1
      }
      c
    }
    def rand(): Array[Int] = Array.fill(4)(rnd.nextInt(1 << 16))
    val aBase = rand()
    val dBase = rand()
    val single = (0L until 40L).map { i =>
      val a = if (i % 5 == 0) aBase.clone()
        else if (i % 5 == 1) flip(aBase, 2)
        else if (i % 5 == 2) flip(aBase, 3)
        else rand()
      // dHash: its own near-dup cluster, so some pairs match on d only
      val d = if (i % 4 == 0) dBase.clone()
        else if (i % 4 == 1) flip(dBase, 1)
        else rand()
      (i, a.toSeq, d.toSeq)
    }
    // exact-duplicate groups of both fingerprints: three copies of id 3,
    // two of id 7 (a random pair each — none of the near-dup clusters)
    val rows = single ++ Seq(40L, 41L, 42L).map(i => (i, single(3)._2, single(3)._3)) ++
      Seq(43L, 44L).map(i => (i, single(7)._2, single(7)._3))
    def ham(x: Seq[Int], y: Seq[Int]): Long =
      x.zip(y).map { case (u, v) => Integer.bitCount(u ^ v) }.sum.toLong
    def word(b: Seq[Int]): Long =
      b.zipWithIndex.map { case (v, j) => v.toLong << (16 * j) }.reduce(_ | _)
    val df = rows.toDF("id", "a", "d").repartition(4)
    val sims = df.select(col("id"),
      (0 until 4).map(j => shiftleft(element_at(col("a"), j + 1).cast("long"), 16 * j))
        .reduce(_ bitwiseOR _).as("simhash"))
    val allPairs = for { x <- rows; y <- rows if x._1 < y._1 } yield (x, y)
    val table = Seq(
      ("aHash",
        graft.operators.Dedup.aHashPairs(df, "id", "a", maxHamming = 3),
        allPairs.collect { case (x, y) if ham(x._2, y._2) <= 3 =>
          Seq(x._1, y._1, ham(x._2, y._2)) }),
      ("aHash + dHash",
        graft.operators.Dedup.dualHashPairs(df, "id", "a", "d", maxHamming = 3),
        allPairs.collect { case (x, y) if math.min(ham(x._2, y._2), ham(x._3, y._3)) <= 3 =>
          Seq(x._1, y._1, ham(x._2, y._2), ham(x._3, y._3)) }),
      ("SimHash",
        graft.operators.Dedup.simhashPairs(sims, bits = 64, maxHamming = 3),
        allPairs.collect { case (x, y)
            if java.lang.Long.bitCount(word(x._2) ^ word(y._2)) <= 3 =>
          Seq(x._1, y._1, java.lang.Long.bitCount(word(x._2) ^ word(y._2)).toLong) }))
    for ((family, pairs, brute) <- table) {
      val got = pairs.collect().map(r => (0 until r.length).map(r.getLong)).toSeq
      assert(got.size == got.toSet.size, s"$family: duplicate pair rows")
      assert(got.toSet == brute.toSet, s"$family: got ${got.size} vs expected ${brute.size}")
      assert(brute.exists(_(2) == 0L) && brute.exists(_(2) > 0L),
        s"$family: fixture lacks exact or near duplicates")
    }
  }

  test("resize-robust dedup: originals pair with their 16x12 thumbnails (brute-force parity)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val orig = Multimodal.synthesizeMedia(d, "doc_id", "text")
      .filter(col("media_type") === "image")
    val ob = Multimodal.aHashBands(orig)
    val rb = Multimodal.aHashBands(Multimodal.resizeImages(orig, 16, 12))
      .withColumn("media_id", col("media_id") + lit(500000000L))
    val all = ob.unionByName(rb)
    val got = graft.operators.Dedup.aHashPairs(all, "media_id", "bands",
      maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    // LSH harvest == brute-force all-pairs Hamming over the same
    // fingerprints (pigeonhole-complete to 3) — the q245 machinery proof
    val fp = all.as[(Long, Seq[Int])].collect()
    val expect = (for {
      (a, ba) <- fp; (b, bb) <- fp if a < b
      dd = (0 until 4).map(i => Integer.bitCount(ba(i) ^ bb(i))).sum if dd <= 3
    } yield (a, b, dd.toLong)).toSet
    assert(got == expect, s"${got.size} vs ${expect.size}")
    // the recall readout: a solid majority of originals find their OWN
    // thumbnail at Hamming <= 3 — the 16x12 target preserves the aHash
    // lattice geometry (x exactly, y within one floor step); the misses
    // are the tiniest originals, which NN UPSAMPLING genuinely distorts
    val selfPairs = got.count { case (a, b, _) => b - a == 500000000L }
    val nImg = orig.count()
    assert(selfPairs.toDouble / nImg >= 0.6, s"self recall $selfPairs/$nImg")
    assert(got.exists { case (a, b, h) => b - a == 500000000L && h > 0 },
      "expected some nonzero-Hamming self pairs (a trivially exact resample would prove nothing)")
  }

  test("block-scaled key spaces: block 0 is the original law, blocks grow the space") {
    // block 0 identities — every base-testdata id (< 1e6) behaves exactly
    // as the pre-block laws did
    for (id <- Seq(0L, 1L, 52L, 53L, 999999L)) {
      assert(Multimodal.mediaBlock(id) == 0L)
      assert(Multimodal.pixelXCoef(id) == 7)
      assert(Multimodal.pixelPhase(id) == 0)
      assert(Multimodal.audioTrack(id) == java.lang.Math.floorMod(id, 53L))
      assert(Multimodal.audioStep(id) == 3 + 2 * (Multimodal.audioTrack(id) % 5))
    }
    // each 1M-id block carries its own key-space slice: the ScaleGen copy
    // offset (1e6 per copy) lands replica copies in fresh blocks, so the
    // track / pixel-law universe grows with corpus size instead of
    // replicating byte-identical masters
    val blocks = (0L until 10L).map(_ * Multimodal.MediaBlockSpan)
    assert(blocks.map(Multimodal.audioTrack).distinct.size == 10)
    assert(blocks.map(id =>
      (Multimodal.pixelXCoef(id), Multimodal.pixelPhase(id))).distinct.size == 10)
    // same doc residue, different block -> different PCM stream (not an
    // exact-dup group member): first-frame energies differ
    def frameEnergy(id: Long): Long =
      (0 until Multimodal.audioFrameLen)
        .map(t => math.abs(Multimodal.pcmSample(id, t)).toLong).sum
    assert(frameEnergy(1L) != frameEnergy(1L + Multimodal.MediaBlockSpan))
  }

  test("decode == law still holds in a nonzero block (real codec round-trip)") {
    // image row (id % 3 == 0) in block 3, chosen ≡ 6 mod 768 — the
    // pre-block pixel law had period 768 (lcm of its mod-256 phase and the
    // mod-32/24 dims), so id 6 and this id used to fingerprint IDENTICALLY;
    // the block terms are exactly what breaks that collapse
    val bid = 6L + 3907L * 768L // = 3000582, block 3
    val d = Seq((bid, "cross-block fixture text")).toDF("doc_id", "text")
    val m = Multimodal.synthesizeMedia(d, "doc_id", "text")
    val w = (bid % 32 + 1).toInt
    val h = (bid % 24 + 1).toInt
    val lawSum = (for { y <- 0 until h; x <- 0 until w }
      yield Multimodal.pixelGray(bid, x, y).toLong).sum
    val row = Multimodal.decodeFeatures(m)
      .select("decode_ok", "decoded_width", "decoded_height", "gray_sum")
      .as[(Boolean, Int, Int, Long)].head()
    assert(row == ((true, w, h, lawSum)))
    // and the block's fingerprint differs from its block-0 twin (≡ mod
    // 768, so the PRE-block law collapsed them to one fingerprint)
    val twin = 6L
    val d2 = Seq((bid, "a"), (twin, "b")).toDF("doc_id", "text")
    val bands = Multimodal.aHashBands(
      Multimodal.synthesizeMedia(d2, "doc_id", "text")
        .filter(col("media_type") === "image"))
      .select("bands").as[Seq[Int]].collect()
    assert(bands.length == 2 && bands(0) != bands(1))
  }
}
