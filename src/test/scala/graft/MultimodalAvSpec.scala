package graft

import graft.multimodal.Multimodal
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Audio (WAV) and video (multi-page TIFF) codec paths: real-JDK-codec
  * round-trips pinned against their closed-form laws, plus the pairing
  * operators' semantics on small brute-force fixtures. */
class MultimodalAvSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(ids: Seq[Long]) =
    ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")

  test("media parquet: metadata-only queries prune the payload out of the scan") {
    // the scale posture the Multimodal scaladoc claims: payload columns
    // are huge relative to metadata, so a query that doesn't decode must
    // never read the bytes — parquet column pruning, visible in ReadSchema
    val dir = java.nio.file.Files.createTempDirectory("graft-media").toString
    Multimodal.synthesizeMedia(docsOf(0L until 30L), "doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .groupBy("media_type").agg(count(lit(1)).as("n"),
        sum(col("width").cast("long")).as("w"))
    val plan = q.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("media_type") && readSchema.contains("width"),
      s"scan must read the queried metadata: $readSchema")
    assert(!readSchema.contains("payload"),
      s"payload must be pruned out of the scan: $readSchema")
    assert(q.collect().map(_.getLong(1)).sum == 30)
  }

  // ---- audio -----------------------------------------------------------

  /** Closed-form twin of [[Multimodal.audioEnergyBands]]: WAV PCM is
    * lossless, so the bands computed through the REAL decode must equal
    * this law-only replica. */
  private def lawAudioBands(id: Long): Seq[Int] = {
    val n = Multimodal.audioFrames * Multimodal.audioFrameLen
    val s = (0 until n).map(t => math.abs(Multimodal.pcmSample(id, t)).toLong)
    val e = (0 until Multimodal.audioFrames).map(f =>
      s.slice(f * Multimodal.audioFrameLen, (f + 1) * Multimodal.audioFrameLen).sum)
    val bands = new Array[Int](4)
    for (p <- 0 until 64 if e(p + 1) > e(p)) bands(p / 16) |= 1 << (p % 16)
    bands.toSeq
  }

  test("audioEnergyBands: the real-WAV-decode fingerprint equals the PCM law") {
    val media = Multimodal.synthesizeAudio(docsOf(0L until 40L), "doc_id")
    assert(media.select("media_type").distinct().as[String].collect().toSeq ==
      Seq("audio")) // only id % 3 == 1 rows
    val got = Multimodal.audioEnergyBands(media)
      .as[(Long, Seq[Int])].collect().toMap
    assert(got.size == 13) // ids 1,4,...,37
    got.foreach { case (id, bands) => assert(bands == lawAudioBands(id)) }
  }

  test("audio gradient fingerprint is gain-invariant (same track, different gain)") {
    // ids 1 and 54 share track (1 % 53 == 54 % 53) but differ in gain:
    // the gradient fingerprint must agree anyway (g·a > g·b ⟺ a > b)
    assert(Multimodal.audioTrack(1L) == Multimodal.audioTrack(54L))
    assert(Multimodal.audioGain(1L) != Multimodal.audioGain(54L))
    assert(Multimodal.pcmSample(1L, 17) != Multimodal.pcmSample(54L, 17))
    assert(lawAudioBands(1L) == lawAudioBands(54L))
    assert(lawAudioBands(1L) != lawAudioBands(4L)) // different track
  }

  test("audioEnergyBands drops undecodable payloads") {
    val junk = Seq((1L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)))
      .toDF("media_id", "payload")
    assert(Multimodal.audioEnergyBands(junk).count() == 0)
  }

  test("audio pairing matches a brute-force law replay (aHashPairs reuse)") {
    val ids = (0L until 400L).filter(_ % 3 == 1)
    val media = Multimodal.synthesizeAudio(docsOf(0L until 400L), "doc_id")
    val got = Dedup.aHashPairs(
      Multimodal.audioEnergyBands(media), "media_id", "bands", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    // brute force over the law fingerprints
    val fps = ids.map(i => i -> lawAudioBands(i)).toMap
    def ham(a: Seq[Int], b: Seq[Int]): Long =
      a.zip(b).map { case (x, y) => Integer.bitCount(x ^ y).toLong }.sum
    val want = (for {
      a <- ids; b <- ids if a < b
      h = ham(fps(a), fps(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(got == want)
    assert(want.exists(_._3 > 0), "fixture must contain NEAR pairs, not only exact")
    assert(want.exists(_._3 == 0), "fixture must contain exact-dup groups")
  }

  test("aHashBucketStats pins the two cost grains of the audio harvest") {
    val media = Multimodal.synthesizeAudio(docsOf(0L until 400L), "doc_id")
    val st = Dedup.aHashBucketStats(
      Multimodal.audioEnergyBands(media), "bands")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
    val ids = (0L until 400L).filter(_ % 3 == 1)
    val fps = ids.groupBy(lawAudioBands).view.mapValues(_.size).toMap
    assert(st._1 == ids.size) // n_rows
    assert(st._2 == fps.size) // n_fingerprints
    assert(st._3 == fps.values.map(c => c.toLong * (c - 1) / 2).sum) // exact_dup_pairs
    // band-bucket pair work at the representative grain
    val occ = fps.keys.toSeq.flatMap(_.zipWithIndex).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    assert(st._8 == occ.values.map(o => o * (o - 1) / 2).sum) // pair_work
  }

  test("resizeImages: real decode → NN resample → re-encode equals the pixel law") {
    val media = Multimodal.synthesizeMedia(docsOf(0L until 30L), "doc_id", "text")
      .filter(col("media_type") === "image")
    val resized = Multimodal.resizeImages(media, outW = 8, outH = 6)
    // the resized payloads are themselves decodable media: run them back
    // through the real decoder and check the law at resample coordinates
    val decoded = Multimodal.decodeFeatures(resized)
      .select("media_id", "decoded_width", "decoded_height", "gray_sum")
      .as[(Long, Int, Int, Long)].collect()
    assert(decoded.length == 10 && decoded.forall(r => r._2 == 8 && r._3 == 6))
    decoded.foreach { case (id, _, _, gs) =>
      val w = (id % 32 + 1).toInt
      val h = (id % 24 + 1).toInt
      val want = (for (y <- 0 until 6; x <- 0 until 8)
        yield Multimodal.pixelGray(id, (x * w) / 8, (y * h) / 6).toLong).sum
      assert(gs == want)
    }
    // resize to own dims == identity lattice ((i*w)/w = i): id 0 is a
    // 1×1 image, so a 1×1 resize must reproduce pixel (0,0) exactly
    val same = Multimodal.resizeImages(
      media.filter(col("media_id") === 0L), 1, 1)
    val g0 = Multimodal.decodeFeatures(same).select("gray_sum").as[Long].head()
    assert(g0 == Multimodal.pixelGray(0L, 0, 0))
  }

  test("resizeImages drops undecodable payloads") {
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("media_id", "payload")
    assert(Multimodal.resizeImages(junk, 4, 4).count() == 0)
  }

  test("component keeper: max-tokens wins, ties break to min id (q243's rank)") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q243_component_keeper")(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
    val manifest = SparkEntry.queries("q239_media_dedup_manifest")(spark, dir)
      .select("media_id", "component").as[(Long, Long)].collect()
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("t"))
      .as[(Long, Long)].collect().toMap
    val want = manifest.groupBy(_._2).map { case (comp, ms) =>
      val members = ms.map(_._1)
      val keeper = members.minBy(id => (-toks(id), id))
      (comp, members.length.toLong, toks(keeper), keeper)
    }.toSet
    assert(got.toSet == want)
    assert(got.exists(_._2 > 1), "fixture must contain multi-member components")
  }

  // ---- video -----------------------------------------------------------

  /** Closed-form aHash of frame `f` of video `id` (TIFF is lossless). */
  private def lawFrameBands(id: Long, f: Int): Seq[Int] = {
    val w = Multimodal.videoWidth(id)
    val h = Multimodal.videoHeight(id)
    val g = for (j <- 0 until 8; i <- 0 until 8)
      yield Multimodal.pixelGray(id + f * Multimodal.videoFrameShift,
        (i * w) / 8, (j * h) / 8)
    val mean = g.map(_.toLong).sum / 64
    val bands = new Array[Int](4)
    for (p <- 0 until 64 if g(p) >= mean) bands(p / 16) |= 1 << (p % 16)
    bands.toSeq
  }

  test("videoFrameHashes: real multi-page TIFF decode equals the pixel law at stride 2") {
    val media = Multimodal.synthesizeVideo(docsOf(0L until 30L), "doc_id")
    val got = Multimodal.videoFrameHashes(media, stride = 2)
      .as[(Long, Int, Seq[Int])].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val vids = (0L until 30L).filter(_ % 3 == 2)
    assert(got.keySet == vids.toSet)
    vids.foreach { id =>
      val nf = Multimodal.videoFrameCount(id)
      val sampled = (0 until nf by 2)
      assert(got(id).keySet == sampled.toSet) // every 2nd page, all pages walked
      sampled.foreach(f => assert(got(id)(f) == lawFrameBands(id, f)))
    }
  }

  test("videoFrameHashes drops undecodable payloads") {
    val junk = Seq((1L, Array[Byte](9, 9, 9, 9)))
      .toDF("media_id", "payload")
    assert(Multimodal.videoFrameHashes(junk).count() == 0)
  }

  test("frameSigMatches matches a brute-force overlap count") {
    val media = Multimodal.synthesizeVideo(docsOf(0L until 600L), "doc_id")
    val sigs = Multimodal.videoFrameHashes(media, stride = 2)
    val got = Dedup.frameSigMatches(sigs, "media_id", "frame_idx", "bands")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val vids = (0L until 600L).filter(_ % 3 == 2)
    val sig = vids.map(id => id ->
      (0 until Multimodal.videoFrameCount(id) by 2)
        .map(f => f -> lawFrameBands(id, f)).toMap).toMap
    val want = (for {
      a <- vids; b <- vids if a < b
      m = sig(a).keySet.intersect(sig(b).keySet)
        .count(f => sig(a)(f) == sig(b)(f)).toLong if m > 0
    } yield (a, b, m, sig(a).size.toLong, sig(b).size.toLong)).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture must produce frame matches")
  }

  test("q239 rep-grain components equal expanded-graph components (differential)") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q239_media_dedup_manifest")(spark, dir)
      .as[(Long, String, Long, Boolean)].collect().toSet
    // the pre-optimization construction: CC over the fully EXPANDED pair
    // union (within-clique edges included) — must label identically
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mm = Multimodal
    val imgPairs = Dedup.dualHashPairs(
      mm.perceptualHashBands(mm.synthesizeMedia(docs, "doc_id", "text")
        .filter(col("media_type") === "image")),
      "media_id", "abands", "dbands", maxHamming = 3).select("id_a", "id_b")
    val audPairs = Dedup.aHashPairs(
      mm.audioEnergyBands(mm.synthesizeAudio(docs, "doc_id")),
      "media_id", "bands", maxHamming = 3).select("id_a", "id_b")
    val vidPairs = Dedup.frameSigMatches(
      mm.videoFrameHashes(mm.synthesizeVideo(docs, "doc_id"), stride = 2),
      "media_id", "frame_idx", "bands").select("id_a", "id_b")
    val comps = Dedup.connectedComponents(
      imgPairs.unionByName(audPairs).unionByName(vidPairs))
      .withColumnRenamed("id", "media_id")
    val want = docs.select(col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"))
      .join(comps, Seq("media_id"), "left")
      .select(col("media_id"), col("media_type"),
        coalesce(col("component"), col("media_id")).as("component"),
        (coalesce(col("component"), col("media_id")) === col("media_id")).as("keep"))
      .as[(Long, String, Long, Boolean)].collect().toSet
    assert(got == want)
    assert(got.exists(!_._4), "fixture must contain dropped duplicates")
  }

  test("component-keyed split admits ZERO cross-split near-dup pairs (q240's law)") {
    // any pair graph: both ends of every pair share a connected component,
    // so hashing the COMPONENT id can never put them on different sides
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs).withColumnRenamed("id", "media_id")
    val universe = (1L to 30L).toDF("media_id")
      .join(comps, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("component"), col("media_id")).as("component"))
    val rows = graft.operators.Splits.pairSplitLeakage(
      pairs, universe, "media_id", "component", trainPpm = 500000L)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    val grp = rows("group_hash")
    assert(grp._4 == 0L && grp._5 == 0L) // n_cross, leak_ppm
    assert(grp._3 == grp._2) // n_same_group == n_pairs: all pairs in-component
  }

  test("clipReusePairs finds shifted clips that index-aligned matching misses") {
    // video 1 frames [A,B,C,D]; video 2 = new 2-frame intro + the same
    // clip: [X,Y,A,B,C] — no frame matches at the SAME index, but a
    // 3-frame run matches at offset +2
    def sig(k: Int) = Seq(k, k + 1, k + 2, k + 3)
    val sigs = (Seq((1L, 0, sig(10)), (1L, 1, sig(20)), (1L, 2, sig(30)),
      (1L, 3, sig(40))) ++
      Seq((2L, 0, sig(90)), (2L, 1, sig(91)), (2L, 2, sig(10)),
        (2L, 3, sig(20)), (2L, 4, sig(30))))
      .toDF("media_id", "frame_idx", "bands")
    assert(Dedup.frameSigMatches(sigs, "media_id", "frame_idx", "bands")
      .count() == 0) // index-aligned: blind to the shift
    val got = Dedup.clipReusePairs(sigs, "media_id", "frame_idx", "bands",
      minRun = 2)
      .as[(Long, Long, Int, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 2, 3L, 3L))) // offset +2, run of 3
  }

  test("clipReusePairs matches a brute-force islands replay on real videos") {
    val media = Multimodal.synthesizeVideo(docsOf(0L until 900L), "doc_id")
    val sigs = Multimodal.videoFrameHashes(media, stride = 1)
    val got = Dedup.clipReusePairs(sigs, "media_id", "frame_idx", "bands",
      minRun = 2)
      .as[(Long, Long, Int, Long, Long)].collect().toSet
    val vids = (0L until 900L).filter(_ % 3 == 2)
    val sig = vids.map(id => id ->
      (0 until Multimodal.videoFrameCount(id))
        .map(f => f -> lawFrameBands(id, f)).toMap).toMap
    val want = (for {
      a <- vids; b <- vids if a < b
      matches = for {
        (fa, ha) <- sig(a).toSeq; (fb, hb) <- sig(b).toSeq if ha == hb
      } yield (fb - fa, fa)
      (off, fs) <- matches.groupBy(_._1).toSeq
      fas = fs.map(_._2).sorted
      runs = fas.zipWithIndex.groupBy { case (f, i) => f - i }
        .values.map(_.size.toLong)
      if runs.max >= 2
    } yield (a, b, off, fas.size.toLong, runs.max)).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture must contain clip reuse")
  }

  test("audio clip reuse: shifted re-posts pair at their exact frame offset, no cross-track noise") {
    // same audio track (id ≡ 1 mod 3 AND same id mod 53 → ids differ by
    // 159), four re-posts at clip shifts 0/3/2/1; plus two other-track ids
    val clipIds = Seq(1L, 160L, 319L, 478L)
    val ids = clipIds ++ Seq(4L, 7L)
    val sigs = Multimodal.audioFrameSigs(
      Multimodal.synthesizeAudioClips(docsOf(ids), "doc_id"))
    // real decode produces one 16-bit signature per frame position, and
    // the signature sequence equals the hash-noise law replay
    val gotSigs = sigs.as[(Long, Int, Seq[Int])].collect()
    assert(gotSigs.count(_._1 == 1L) == 49) // 65 frames - 16 window
    def lawSig(id: Long, p: Int): Int =
      (0 until 16).foldLeft(0) { (acc, k) =>
        val sh = Multimodal.audioClipShift(id)
        val e1 = math.abs(Multimodal.clipFrameValue(id, p + k + 1 + sh))
        val e0 = math.abs(Multimodal.clipFrameValue(id, p + k + sh))
        if (e1 > e0) acc | (1 << k) else acc
      }
    assert(gotSigs.forall { case (id, p, b) => b == Seq(lawSig(id, p)) })
    val pairs = Dedup.clipReusePairs(sigs, "media_id", "frame_idx", "bands",
      minRun = 8)
      .select("id_a", "id_b", "frame_offset", "max_run")
      .as[(Long, Long, Int, Long)].collect().toSet
    // every same-track pair found at offset shift_a - shift_b with a full
    // overlap run (49 - |offset|); no cross-track pair survives minRun 8
    def shift(id: Long) = Multimodal.audioClipShift(id)
    val want = (for {
      a <- clipIds; b <- clipIds if a < b
      off = shift(a) - shift(b)
    } yield (a, b, off, 49L - math.abs(off))).toSet
    assert(pairs == want, s"got $pairs")
  }

  test("auto-sized audio signatures: corpus-derived widths, two-band packing, same detector") {
    import graft.operators.Dedup
    // the q249 width rule (autoBandBits over clips*frames at occupancy 2):
    // 16 bits at sf0.1's ~1667 clips, 20 at sf1's ~16.7k, 23 at sf10's
    // ~167k, floor 16 for tiny corpora, ceiling 32
    assert(Dedup.autoBandBits(1667L * 65, 16, 32, 2) == 16)
    assert(Dedup.autoBandBits(16667L * 65, 16, 32, 2) == 20)
    assert(Dedup.autoBandBits(166667L * 65, 16, 32, 2) == 23)
    assert(Dedup.autoBandBits(1L, 16, 32, 2) == 16)
    assert(Dedup.autoBandBits(Long.MaxValue / 2, 16, 32, 2) == 32)

    // a 20-bit window packs into 2 bands (bit k -> band k/16, pos k%16)
    // and the signature sequence still equals the hash-noise law replay
    val clipIds = Seq(1L, 160L, 319L, 478L)
    val ids = clipIds ++ Seq(4L, 7L)
    val w = 20
    val sigs = Multimodal.audioFrameSigs(
      Multimodal.synthesizeAudioClips(docsOf(ids), "doc_id"), window = w)
    val gotSigs = sigs.as[(Long, Int, Seq[Int])].collect()
    assert(gotSigs.count(_._1 == 1L) == 65 - w)
    def lawBands(id: Long, p: Int): Seq[Int] = {
      val sh = Multimodal.audioClipShift(id)
      val b = new Array[Int](2)
      for (k <- 0 until w) {
        val e1 = math.abs(Multimodal.clipFrameValue(id, p + k + 1 + sh))
        val e0 = math.abs(Multimodal.clipFrameValue(id, p + k + sh))
        if (e1 > e0) b(k / 16) |= 1 << (k % 16)
      }
      b.toSeq
    }
    assert(gotSigs.forall { case (id, p, b) => b == lawBands(id, p) })

    // the unchanged q244/q247 detector over the wider signatures: every
    // same-track pair at its exact offset with the full (65-w)-|off| run,
    // no cross-track pair at minRun 8
    val pairs = Dedup.clipReusePairs(sigs, "media_id", "frame_idx", "bands",
      minRun = 8)
      .select("id_a", "id_b", "frame_offset", "max_run")
      .as[(Long, Long, Int, Long)].collect().toSet
    def shift(id: Long) = Multimodal.audioClipShift(id)
    val want = (for {
      a <- clipIds; b <- clipIds if a < b
      off = shift(a) - shift(b)
    } yield (a, b, off, (65L - w) - math.abs(off))).toSet
    assert(pairs == want, s"got $pairs")
  }

  test("scene cuts: shot boundaries from consecutive-frame hamming equal the shot law") {
    val ids = Seq(2L, 5L, 8L, 11L, 14L, 17L, 20L, 23L) // video ids (≡ 2 mod 3)
    val sigs = Multimodal.videoFrameHashes(
      Multimodal.synthesizeVideoShots(docsOf(ids), "doc_id", shotLen = 3),
      stride = 1)
    val got = Dedup.sceneCuts(sigs, "media_id", "frame_idx", "bands",
      minHamming = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // law replay: shot s of video id carries the pixel-law image of
    // id + s·shift; cut where consecutive frame hashes differ by >= 8
    def shotBands(id: Long, s: Int): Seq[Int] = {
      val w = Multimodal.videoWidth(id)
      val h = Multimodal.videoHeight(id)
      val g = for (j <- 0 until 8; i <- 0 until 8)
        yield Multimodal.pixelGray(id + s * Multimodal.videoFrameShift,
          (i * w) / 8, (j * h) / 8)
      val mean = g.map(_.toLong).sum / 64
      val bands = new Array[Int](4)
      for (p <- 0 until 64 if g(p) >= mean) bands(p / 16) |= 1 << (p % 16)
      bands.toSeq
    }
    val want = ids.map { id =>
      val nf = Multimodal.videoFrameCount(id)
      val frames = (0 until nf).map(f => shotBands(id, f / 3))
      val cuts = (1 until nf).count { f =>
        (0 until 4).map(i =>
          Integer.bitCount(frames(f)(i) ^ frames(f - 1)(i))).sum >= 8
      }
      // shot lengths via the same running-cut walk
      var lens = List(1)
      for (f <- 1 until nf) {
        val cut = (0 until 4).map(i =>
          Integer.bitCount(frames(f)(i) ^ frames(f - 1)(i))).sum >= 8
        lens = if (cut) 1 :: lens else (lens.head + 1) :: lens.tail
      }
      (id, nf.toLong, cuts.toLong, (cuts + 1).toLong, lens.max.toLong)
    }.toSet
    assert(got == want, s"got $got\nwant $want")
    // the fixture genuinely has multi-shot structure
    assert(want.exists(_._4 >= 2))
  }

  test("frameSigMatches drops flooded frame buckets whole at maxBucket") {
    // 5 videos share an identical (frame, hash) signature row
    val sigs = (1L to 5L).map(i => (i, 0, Seq(1, 2, 3, 4)))
      .toDF("media_id", "frame_idx", "bands")
    assert(Dedup.frameSigMatches(sigs, "media_id", "frame_idx", "bands",
      maxBucket = 4).count() == 0)
    assert(Dedup.frameSigMatches(sigs, "media_id", "frame_idx", "bands",
      maxBucket = 5).count() == 10)
  }
}
