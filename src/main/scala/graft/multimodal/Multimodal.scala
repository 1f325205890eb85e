package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support for training-data pipelines: image/audio/video
  * payloads travel as opaque `binary` columns next to typed metadata, and
  * decode / feature-extraction runs batched per partition.
  *
  * The image path is a REAL codec round-trip with no external dependency:
  * `synthesizeMedia` encodes deterministic pixels to actual PNG bytes with
  * the JDK's `ImageIO`, and `decodeFeatures` decodes them back with
  * `ImageIO.read`, emitting the decoded dimensions, an exact gray-value
  * checksum, and a pixel-histogram feature vector. Because the pixel
  * content is a closed-form function of (media_id, x, y), the whole
  * encode→decode→extract chain is independently replayable by a SQL
  * oracle — a genuine end-to-end codec test. Audio/video payloads stay
  * opaque stand-ins (this container ships no audio codecs): they take the
  * documented deterministic-fake feature path with `decode_ok = false`.
  *
  * Scale posture: payload columns are huge relative to metadata — always
  * prune them out of queries that don't decode (parquet column pruning
  * makes the scan skip the bytes entirely), and repartition by size before
  * decode so one partition's batch fits executor memory. Codec state is
  * initialized per partition, never per row.
  */
object Multimodal {

  /** Canonical multimodal record schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType),
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("source_url", StringType)))

  /** Media key-space BLOCK of an id — `id div 1e6`. Every fixture law
    * below takes its key-space slice from the block, and the block span
    * matches [[graft.ScaleGen]]'s per-copy document offset (1,000,000):
    * a real corpus's master/track/fingerprint universe grows with corpus
    * size, and the synthetic laws model that by giving each id block its
    * own slice — replica copy `i` lands in block `i` and contributes NEW
    * tracks / pixel-law classes instead of byte-identical re-encodes of
    * block 0's. All base testdata ids (< 1e6) sit in block 0, where every
    * block term vanishes and the laws reduce to their original form. */
  val MediaBlockSpan: Long = 1000000L
  def mediaBlock(id: Long): Long = java.lang.Math.floorDiv(id, MediaBlockSpan)

  /** Per-block x-coefficient of the pixel law — odd (7 + 2·(5·block mod
    * 96) ∈ [7, 197]), distinct for 96 consecutive blocks (5 ⊥ 96), and
    * exactly 7 in block 0. Varying the COEFFICIENT (not just an additive
    * phase) is what grows the perceptual-fingerprint space: aHash/dHash
    * threshold pixel DIFFERENCES, which an additive offset mostly cancels
    * (only mod-256 wraparound survives it) but a gradient change never
    * does. */
  def pixelXCoef(id: Long): Int =
    (7L + 2L * java.lang.Math.floorMod(mediaBlock(id) * 5L, 96L)).toInt

  /** Per-block additive phase of the pixel law — 97·block mod 256
    * (97 ⊥ 256, so distinct for 256 consecutive blocks), 0 in block 0. */
  def pixelPhase(id: Long): Int =
    java.lang.Math.floorMod(mediaBlock(id) * 97L, 256L).toInt

  /** Deterministic pixel law shared by the encoder and any oracle:
    * gray(id, x, y) — integer arithmetic only, so replay is exact. The
    * per-block coefficient/phase terms ([[pixelXCoef]]/[[pixelPhase]])
    * vanish in block 0 and give each 1M-id block its own pixel-law class,
    * so the image/video fingerprint space scales with corpus size instead
    * of collapsing to the ~768 classes a single block carries. */
  def pixelGray(id: Long, x: Int, y: Int): Int =
    java.lang.Math.floorMod(
      id * 31L + x.toLong * pixelXCoef(id) + y * 13L + pixelPhase(id),
      256L).toInt

  /** Encode the deterministic gray image for `id` as real PNG bytes
    * (JDK ImageIO; PNG is lossless, so the round-trip is exact). */
  private[multimodal] def encodePng(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = pixelGray(id, x, y)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // Fixture synthesis is the one place a Scala UDF is acceptable: PNG
  // encoding is imperative byte production, not a hot relational path.
  private lazy val encodePngUdf =
    udf((id: Long, w: Int, h: Int) => encodePng(id, w, h))

  /** Wrap a text/doc table into multimodal shape. Image rows (id % 3 == 0)
    * carry REAL PNG payloads of the deterministic pixel law at the
    * metadata (width, height); audio/video rows carry opaque deterministic
    * bytes (sha256 of the text) — no audio codec ships in-container. */
  def synthesizeMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(
      col(idCol).cast("long").as("media_id"),
      (when(col(idCol) % 3 === 0, "image")
        .when(col(idCol) % 3 === 1, "audio").otherwise("video")).as("media_type"),
      to_binary(sha2(col(textCol), 256), lit("hex")).as("opaque"),
      (col(idCol) % 32 + 1).cast("int").as("width"),
      (col(idCol) % 24 + 1).cast("int").as("height"),
      (col(idCol) * 40L).as("duration_ms"),
      concat(lit("https://media.example/"), col(idCol)).as("source_url"))
    base.select(
      col("media_id"),
      col("media_type"),
      when(col("media_type") === "image",
        encodePngUdf(col("media_id"), col("width"), col("height")))
        .otherwise(col("opaque")).as("payload"),
      when(col("media_type") === "image", lit("image/png"))
        .otherwise(lit("application/octet-stream")).as("mime"),
      col("width"), col("height"), col("duration_ms"), col("source_url"))
  }

  /** Batched per-partition decode + feature extraction.
    *
    * Real path: `ImageIO.read` over the payload bytes — emits
    * `decode_ok = true`, the DECODED `decoded_width`/`decoded_height`,
    * `gray_sum` (exact sum of the gray channel over all pixels), and a
    * `dim`-bucket gray histogram as the feature vector.
    *
    * Fallback (payload the JDK has no reader for — the opaque audio/video
    * stand-ins): a deterministic byte-derived fake feature with
    * `decode_ok = false`, so downstream plumbing still flows for fixtures
    * while the flag records that no codec ran. Null/empty payloads yield
    * a null feature. */
  def decodeFeatures(media: DataFrame, dim: Int = 8): DataFrame = {
    require(dim >= 1 && dim <= 256, "dim must be in [1, 256] (gray buckets)")
    val inSchema = media.schema
    val outSchema = inSchema
      .add("feature", ArrayType(FloatType), nullable = true)
      .add("decode_ok", BooleanType, nullable = false)
      .add("decoded_width", IntegerType, nullable = true)
      .add("decoded_height", IntegerType, nullable = true)
      .add("gray_sum", LongType, nullable = true)
    val payloadIdx = inSchema.fieldIndex("payload")
    implicit val enc = RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      // per-partition init: keep ImageIO's scratch in memory (no temp-file
      // cache churn per image); reader plugins are scanned once per JVM
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        if (payload == null || payload.isEmpty)
          Row.fromSeq(r.toSeq :+ null :+ false :+ null :+ null :+ null)
        else {
          val img = decodeImage(payload)
          if (img != null) {
            val w = img.getWidth
            val h = img.getHeight
            val hist = new Array[Float](dim)
            var graySum = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val g = img.getRGB(x, y) & 0xff
                graySum += g
                hist((g * dim) / 256) += 1f
                x += 1
              }
              y += 1
            }
            Row.fromSeq(r.toSeq :+ hist :+ true :+ w :+ h :+ graySum)
          } else {
            val feat = Array.tabulate(dim) { i =>
              (payload(i % payload.length) & 0xff).toFloat / 255.0f
            }
            Row.fromSeq(r.toSeq :+ feat :+ false :+ null :+ null :+ null)
          }
        }
      }
    }
  }

  /** Average-hash (aHash) perceptual fingerprint of each decodable image
    * payload — the classic perceptual-dedup primitive: sample the decoded
    * gray image on a `grid`×`grid` nearest-neighbor lattice, threshold
    * each sample against the floor-mean of the lattice, and pack the
    * resulting `grid²` bits into 16-bit band integers (`grid²/16` bands).
    *
    * Integer-exact end to end: nearest-neighbor index `(i·w) div grid`,
    * floor mean `Σg div grid²`, bit `g ≥ mean` — so an engine that knows
    * the pixel law (the [[synthesizeMedia]] fixtures are closed-form; PNG
    * is lossless) replays the fingerprint without touching the codec,
    * while THIS path exercises the real `ImageIO` decode. Bands of 16
    * bits rather than one 64-bit word keep every value in positive-int
    * range on every engine (no sign-bit/arithmetic-shift portability
    * traps) and are exactly the LSH banding grain [[graft.operators.Dedup
    * .aHashPairs]] buckets on.
    *
    * Rows whose payload the JDK cannot decode (the opaque audio/video
    * stand-ins) are dropped — a perceptual hash of undecodable bytes is
    * meaningless. Output: `(media_id, bands array<int>)`. */
  def aHashBands(media: DataFrame, grid: Int = 8): DataFrame = {
    require(grid >= 4 && (grid * grid) % 16 == 0,
      "grid^2 must split into 16-bit bands")
    val inSchema = media.schema
    val idIdx = inSchema.fieldIndex("media_id")
    val payloadIdx = inSchema.fieldIndex("payload")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("bands", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        Option(decodeImage(r.getAs[Array[Byte]](payloadIdx)))
          .map(img => Row(r.getLong(idIdx), aHashOf(img, grid).toSeq))
      }
    }
  }

  /** The JDK's `ImageIO` decode of an image payload; null when the payload
    * is empty or no reader can decode it. */
  private def decodeImage(payload: Array[Byte]): java.awt.image.BufferedImage =
    if (payload == null || payload.isEmpty) null
    else
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: java.io.IOException => null }

  /** The aHash lattice kernel: `grid`×`grid` nearest-neighbor gray samples
    * at `((i·w) div grid, (j·h) div grid)`, bit `j·grid+i` set iff the
    * sample is ≥ the floor mean, packed into `grid²/16` 16-bit bands. */
  private def aHashOf(img: java.awt.image.BufferedImage, grid: Int): Array[Int] = {
    val w = img.getWidth
    val h = img.getHeight
    val g = new Array[Int](grid * grid)
    var sum = 0L
    var j = 0
    while (j < grid) {
      var i = 0
      while (i < grid) {
        val px = img.getRGB((i * w) / grid, (j * h) / grid) & 0xff
        g(j * grid + i) = px
        sum += px
        i += 1
      }
      j += 1
    }
    val mean = sum / (grid * grid)
    val bands = new Array[Int](grid * grid / 16)
    var p = 0
    while (p < grid * grid) {
      if (g(p) >= mean) bands(p / 16) |= 1 << (p % 16)
      p += 1
    }
    bands
  }

  /** Both perceptual fingerprints of each decodable image in ONE decode
    * pass: the [[aHashBands]] average hash plus its gradient twin dHash —
    * the pair the cross-grid dedup query (q233) buckets on. aHash
    * thresholds absolute gray against the lattice mean, so smooth
    * brightness/contrast drift flips every bit whose gray sits near the
    * mean; dHash compares each lattice sample against its RIGHT neighbor
    * (`grid+1`×`grid` samples → `grid²` sign bits), so any perturbation
    * that preserves local gradients — global offset, smooth illumination
    * ramps — leaves it intact. Pairing on the UNION of both hashes' bands
    * ([[graft.operators.Dedup.dualHashPairs]]) keeps recall where either
    * family survives the edit.
    *
    * Integer-exact like aHash: dHash samples at `x=(i·w) div (grid+1)`,
    * `y=(j·h) div grid`, bit `j·grid+i` set iff `g(i+1,j) > g(i,j)`
    * (strict — ties are 0 in every engine). Output:
    * `(media_id, abands array<int>, dbands array<int>)`, bands 16-bit as
    * in [[aHashBands]]. Undecodable payloads are dropped. */
  def perceptualHashBands(media: DataFrame, grid: Int = 8): DataFrame = {
    require(grid >= 4 && (grid * grid) % 16 == 0,
      "grid^2 must split into 16-bit bands")
    val nBands = grid * grid / 16
    val inSchema = media.schema
    val idIdx = inSchema.fieldIndex("media_id")
    val payloadIdx = inSchema.fieldIndex("payload")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("abands", ArrayType(IntegerType, containsNull = false),
        nullable = false),
      StructField("dbands", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        Option(decodeImage(r.getAs[Array[Byte]](payloadIdx))).map { img =>
          val w = img.getWidth
          val h = img.getHeight
          // dHash lattice: (grid+1) x grid, bit = right-neighbor gradient
          val dbands = new Array[Int](nBands)
          var j = 0
          while (j < grid) {
            val y = (j * h) / grid
            var prev = img.getRGB(0, y) & 0xff // x index (0*w)/(grid+1) = 0
            var i = 0
            while (i < grid) {
              val cur = img.getRGB(((i + 1) * w) / (grid + 1), y) & 0xff
              if (cur > prev) {
                val q = j * grid + i
                dbands(q / 16) |= 1 << (q % 16)
              }
              prev = cur
              i += 1
            }
            j += 1
          }
          Row(r.getLong(idIdx), aHashOf(img, grid).toSeq, dbands.toSeq)
        }
      }
    }
  }

  /** Frame sampling contract for video rows: one output row per sampled
    * frame index (metadata-only here; a real decoder would attach the frame
    * payload). Native explode keeps it distributed and codegen'd. */
  def sampleFrames(media: DataFrame, everyMs: Long = 1000L): DataFrame =
    media.filter(col("media_type") === "video" && col("duration_ms") > 0)
      .withColumn("frame_ms",
        explode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs))))
      .select(col("media_id"), col("frame_ms"), col("mime"), col("source_url"))

  /** Batched per-partition nearest-neighbor image RESIZE — the remaining
    * member of the multimodal contract vocabulary (decode /
    * feature-extract / resize / frame-sample): decode the payload with
    * the REAL codec, resample gray on the `(x·w) div outW` lattice (the
    * [[aHashBands]] sampling convention, integer-exact so an oracle
    * replays the resized pixels from the law), and re-encode as real PNG
    * bytes — the output rows are themselves decodable media. Undecodable
    * payloads are dropped; output schema `(media_id, payload, mime,
    * width, height)`. */
  def resizeImages(media: DataFrame, outW: Int, outH: Int): DataFrame = {
    require(outW >= 1 && outH >= 1, "output dims must be positive")
    val inSchema = media.schema
    val idIdx = inSchema.fieldIndex("media_id")
    val payloadIdx = inSchema.fieldIndex("payload")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("mime", StringType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        Option(decodeImage(r.getAs[Array[Byte]](payloadIdx))).map { img =>
          val w = img.getWidth
          val h = img.getHeight
          val out = new java.awt.image.BufferedImage(
            outW, outH, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < outH) {
            var x = 0
            while (x < outW) {
              out.setRGB(x, y, img.getRGB((x * w) / outW, (y * h) / outH))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          Row(r.getLong(idIdx), bos.toByteArray, "image/png", outW, outH)
        }
      }
    }
  }

  // ---------------------------------------------------------------------
  // Audio: REAL WAV codec round-trip (javax.sound.sampled ships in the
  // JDK; PCM_SIGNED 16-bit is lossless, so decode ≡ the sample law).
  // ---------------------------------------------------------------------

  /** Frame-energy fingerprint geometry: 65 frame energies → 64 gradient
    * bits → 4×16-bit bands (the same banding grain as [[aHashBands]]). */
  val audioFrames: Int = 65
  /** Samples per energy frame. 60 (= 4·15) keeps the phase walk between
    * consecutive frames at additive order 64 mod 256 — no short period
    * inside the 65-frame window, so fingerprints stay informative. */
  val audioFrameLen: Int = 60

  /** Coarse "track" key of the PCM law: a real audio corpus carries many
    * re-encodes of one master, so ids collapse to 53 track classes PER
    * 1M-id BLOCK ([[mediaBlock]]) — same-track rows are the
    * exact-duplicate groups the pairing's distinct-fingerprint grain
    * collapses, and the track universe grows with corpus size (53·blocks)
    * the way a real corpus's master list does, instead of staying a fixed
    * 53 under replication. Block 0 (all base testdata) is the original
    * 0..52 range. */
  def audioTrack(id: Long): Int =
    (java.lang.Math.floorMod(id, 53L) + 53L * mediaBlock(id)).toInt

  /** Per-track sample stride — odd, so each frame covers `audioFrameLen`
    * DISTINCT ring positions mod 256. The per-block term (5·(block mod
    * 11), 0 in block 0) widens the stride alphabet from 5 to 55 classes,
    * so tracks from different blocks keep distinct PCM streams well past
    * the 256-phase period of the `track·31` term. */
  def audioStep(id: Long): Int =
    (3 + 2 * ((audioTrack(id) % 5)
      + 5 * java.lang.Math.floorMod(mediaBlock(id), 11L).toInt))

  /** Per-id gain (1 or 2) — a positive scale the energy-GRADIENT
    * fingerprint is provably invariant to (g·a > g·b ⟺ a > b), which is
    * the reason to hash gradients rather than energies: re-encodes at
    * different volume still fingerprint identically. */
  def audioGain(id: Long): Int = (1L + java.lang.Math.floorMod(id, 2L)).toInt

  /** Closed-form PCM sample law shared by the WAV encoder and any oracle:
    * s(id, t) = (((track·31 + t·step) mod 256) − 128) · gain —
    * integer-exact, so a SQL engine replays the fingerprint without
    * touching the codec. */
  def pcmSample(id: Long, t: Int): Int = {
    val k = audioTrack(id)
    (java.lang.Math.floorMod(k * 31L + t.toLong * audioStep(id), 256L).toInt
      - 128) * audioGain(id)
  }

  /** Frame-aligned time shift of a re-encoded clip — the audio
    * clip-reuse fixture law ([[synthesizeAudioClips]]): re-posts of one
    * track start `audioClipShift(id)` FRAMES into the master, so two
    * re-posts' frame-energy sequences agree at a constant frame offset
    * (what [[graft.operators.Dedup.clipReusePairs]] detects). 0–3 frames,
    * keyed off `id div 53` so same-track ids get DIFFERENT shifts. */
  def audioClipShift(id: Long): Int =
    java.lang.Math.floorMod(java.lang.Math.floorDiv(id, 53L), 4L).toInt

  /** Per-frame base value of the CLIP fixture law: hash noise keyed by
    * (track, ABSOLUTE frame index) through the portable md5Hash60 stream
    * ([[graft.functions.PortableHash]] — the same cross-engine hash the
    * minhash family replays in DuckDB), mapped into [−127, 127]. Why hash
    * noise: a real track's frame energies carry high entropy, while the
    * linear ring-walk law ([[pcmSample]]) produces energy-GRADIENT
    * sequences that are periodic rotations of one cycle within a step
    * class — under a clip detector every same-step track pair then reads
    * as a structurally "shifted clip" (measured: 13k of C(167,2)≈13.8k
    * pairs matched at sf0.01). The law is a function of absolute time, so
    * a re-post starting Δ frames in is exactly the master shifted by Δ —
    * the one property clip reuse needs. */
  def clipFrameValue(id: Long, frame: Int): Int =
    (java.lang.Math.floorMod(
      graft.functions.PortableHash.md5Hash60Local(s"${audioTrack(id)}:$frame"),
      255L) - 127L).toInt

  /** Encode the deterministic PCM stream for `id` as REAL WAV bytes
    * (RIFF container, PCM_SIGNED 16-bit mono little-endian — lossless). */
  private[multimodal] def encodeWav(id: Long): Array[Byte] =
    encodeWavOf(t => pcmSample(id, t))

  /** CLIP-fixture WAV: all 60 samples of frame `f` carry
    * [[clipFrameValue]] at master frame `f + audioClipShift(id)` (times
    * the per-id gain) — a time-shifted re-post whose frame-energy
    * sequence is exactly the master's shifted by whole frames. */
  private[multimodal] def encodeWavClip(id: Long): Array[Byte] = {
    val sh = audioClipShift(id)
    val g = audioGain(id)
    // one hash per FRAME, not per sample (the md5 stream is 65× cheaper
    // than a per-sample evaluation and the law is frame-constant anyway)
    val vals = Array.tabulate(audioFrames)(f => clipFrameValue(id, f + sh) * g)
    encodeWavOf(t => vals(t / audioFrameLen))
  }

  private def encodeWavOf(sample: Int => Int): Array[Byte] = {
    val n = audioFrames * audioFrameLen
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = sample(t)
      pcm(2 * t) = (s & 0xff).toByte
      pcm(2 * t + 1) = ((s >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private lazy val encodeWavUdf = udf((id: Long) => encodeWav(id))
  private lazy val encodeWavClipUdf = udf((id: Long) => encodeWavClip(id))

  /** Audio twin of [[synthesizeMedia]]'s image path: the rows
    * [[synthesizeMedia]] types as audio (id % 3 == 1) re-synthesized with
    * REAL WAV payloads of the deterministic PCM law — an actual audio
    * codec round-trip with no external dependency. */
  def synthesizeAudio(docs: DataFrame, idCol: String): DataFrame =
    docs.filter(col(idCol) % 3 === 1)
      .select(
        col(idCol).cast("long").as("media_id"),
        lit("audio").as("media_type"),
        encodeWavUdf(col(idCol).cast("long")).as("payload"),
        lit("audio/wav").as("mime"),
        lit(audioFrames * audioFrameLen).as("n_samples"),
        concat(lit("https://media.example/"), col(idCol), lit(".wav"))
          .as("source_url"))

  /** Audio CLIP fixture: the audio rows re-synthesized as time-shifted
    * re-posts of their master track — each id's WAV starts
    * [[audioClipShift]] whole frames into the [[pcmSample]] stream, so
    * same-track ids are REUSED CLIPS at a constant frame offset (not
    * exact duplicates), which index-aligned fingerprinting misses and
    * [[graft.operators.Dedup.clipReusePairs]] over [[audioFrameSigs]]
    * detects. Real WAV codec round-trip like [[synthesizeAudio]]. */
  def synthesizeAudioClips(docs: DataFrame, idCol: String): DataFrame =
    docs.filter(col(idCol) % 3 === 1)
      .select(
        col(idCol).cast("long").as("media_id"),
        lit("audio").as("media_type"),
        encodeWavClipUdf(col(idCol).cast("long")).as("payload"),
        lit("audio/wav").as("mime"),
        lit(audioFrames * audioFrameLen).as("n_samples"),
        concat(lit("https://media.example/"), col(idCol), lit(".wav"))
          .as("source_url"))

  /** Batched per-partition WAV decode → per-FRAME gradient signatures —
    * the audio twin of [[videoFrameHashes]]'s signature table: decode the
    * payload with the REAL codec into frame energies (as
    * [[audioEnergyBands]]), then emit one signature per frame position
    * `f` packing the next `window` gradient sign bits
    * (bit k = E(f+k+1) > E(f+k), band k/16, position k%16) into
    * ceil(window/16) 16-bit bands. Time-shifted re-encodes of one track
    * produce the SAME signature sequence at a constant frame offset —
    * exactly the input contract of
    * [[graft.operators.Dedup.clipReusePairs]] (stride 1).
    * Output: `(media_id, frame_idx, bands array<int>)` — one band for
    * window ≤ 16 (byte-identical to the pre-r12 single-band layout), two
    * for the corpus-derived widths [[graft.operators.Dedup.autoBandBits]]
    * picks past 16 bits (the q249 scale path: a FIXED 16-bit signature
    * space saturates once corpus frame mass outruns its 65k keys and
    * chance-collision match mass grows ~quadratically — q247's diag). */
  def audioFrameSigs(media: DataFrame, window: Int = 16): DataFrame = {
    require(window >= 1 && window <= 32, "window must pack into <= 2 16-bit bands")
    val nSigBands = (window + 15) / 16
    val inSchema = media.schema
    val idIdx = inSchema.fieldIndex("media_id")
    val payloadIdx = inSchema.fieldIndex("payload")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("bands", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        frameEnergies(r.getAs[Array[Byte]](payloadIdx), Int.MaxValue).toSeq.flatMap { energy =>
          val id = r.getLong(idIdx)
          (0 until energy.length - window).map { p =>
            val sig = new Array[Int](nSigBands)
            var k = 0
            while (k < window) {
              if (energy(p + k + 1) > energy(p + k))
                sig(k / 16) |= 1 << (k % 16)
              k += 1
            }
            Row(id, p, sig.toSeq)
          }
        }
      }
    }
  }

  /** The WAV decoder every audio fingerprint shares: parse the payload
    * with `AudioSystem.getAudioInputStream` (the REAL codec — RIFF parse +
    * PCM frame extraction) and sum |sample| over each [[audioFrameLen]]-
    * sample frame, up to `maxFrames` frames. None when the payload is
    * empty, the sound stack cannot parse it, or it is not 16-bit mono
    * PCM_SIGNED. */
  private def frameEnergies(payload: Array[Byte], maxFrames: Int): Option[Array[Long]] = {
    val in =
      if (payload == null || payload.isEmpty) null
      else
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => null
          case _: java.io.IOException => null
        }
    Option(in).flatMap { in =>
      val fmt = in.getFormat
      val bytes = in.readAllBytes()
      in.close()
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
        fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
      else {
        val big = fmt.isBigEndian
        val nFrames = math.min(maxFrames, bytes.length / 2 / audioFrameLen)
        val energy = new Array[Long](nFrames)
        var f = 0
        while (f < nFrames) {
          var e = 0L
          var u = 0
          while (u < audioFrameLen) {
            val t = f * audioFrameLen + u
            val s =
              if (big) ((bytes(2 * t) << 8) | (bytes(2 * t + 1) & 0xff)).toShort
              else ((bytes(2 * t + 1) << 8) | (bytes(2 * t) & 0xff)).toShort
            e += math.abs(s.toLong)
            u += 1
          }
          energy(f) = e
          f += 1
        }
        Some(energy)
      }
    }
  }

  /** Batched per-partition WAV decode → frame-energy gradient fingerprint:
    * decode the payload with `AudioSystem.getAudioInputStream` (the REAL
    * codec — RIFF parse + PCM frame extraction), sum |sample| over each
    * [[audioFrameLen]]-sample frame, threshold each energy against its
    * successor (bit f = E(f+1) > E(f) — the dHash move applied in time,
    * robust to global gain changes that scale every energy together), and
    * pack the `audioFrames − 1` sign bits into 16-bit bands — exactly the
    * banding grain [[graft.operators.Dedup.aHashPairs]] buckets on.
    *
    * Integer-exact end to end (energies are integer sums of |s|, the
    * comparison is strict), so an engine that knows [[pcmSample]] replays
    * the fingerprint codec-free, while THIS path exercises the real
    * decoder. Payloads the sound stack cannot parse are dropped. Output:
    * `(media_id, bands array<int>)`. */
  def audioEnergyBands(media: DataFrame): DataFrame = {
    val nBits = audioFrames - 1
    require(nBits % 16 == 0, "gradient bits must split into 16-bit bands")
    val nBands = nBits / 16
    val inSchema = media.schema
    val idIdx = inSchema.fieldIndex("media_id")
    val payloadIdx = inSchema.fieldIndex("payload")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("bands", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        frameEnergies(r.getAs[Array[Byte]](payloadIdx), audioFrames)
          .filter(_.length == audioFrames).map { energy =>
            val bands = new Array[Int](nBands)
            var p = 0
            while (p < nBits) {
              if (energy(p + 1) > energy(p)) bands(p / 16) |= 1 << (p % 16)
              p += 1
            }
            Row(r.getLong(idIdx), bands.toSeq)
          }
      }
    }
  }

  // ---------------------------------------------------------------------
  // Video: REAL multi-frame codec round-trip (the JDK's ImageIO TIFF
  // plugin supports multi-page sequences; baseline TIFF is lossless).
  // ---------------------------------------------------------------------

  /** Video geometry laws shared by the encoder and any oracle. */
  def videoFrameCount(id: Long): Int =
    (4L + java.lang.Math.floorMod(id, 5L)).toInt
  def videoWidth(id: Long): Int =
    (java.lang.Math.floorMod(id, 16L) + 8L).toInt
  def videoHeight(id: Long): Int =
    (java.lang.Math.floorMod(id, 12L) + 6L).toInt
  /** Frame f of video `id` carries the [[pixelGray]] image of the shifted
    * id `id + f·9973` — each frame is a distinct closed-form image. */
  val videoFrameShift: Long = 9973L

  /** Encode the deterministic frame sequence for `id` as REAL multi-page
    * TIFF bytes (ImageIO sequence writer; baseline gray TIFF is lossless,
    * so every frame round-trips exactly). */
  private[multimodal] def encodeTiff(id: Long, shotLen: Int = 1): Array[Byte] = {
    val w = videoWidth(id)
    val h = videoHeight(id)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("tiff").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    val nf = videoFrameCount(id)
    while (f < nf) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          // shotLen > 1 groups frames into SHOTS: frames of one shot carry
          // the same closed-form image (the scene-cut fixture law)
          val g = pixelGray(id + (f / shotLen) * videoFrameShift, x, y)
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  private lazy val encodeTiffUdf = udf((id: Long) => encodeTiff(id))
  private lazy val encodeTiffShotsUdf =
    udf((id: Long, shotLen: Int) => encodeTiff(id, shotLen))

  /** Scene-cut fixture: video rows re-synthesized with SHOT structure —
    * every `shotLen` consecutive frames repeat one closed-form image,
    * then the scene cuts to the next ([[encodeTiff]]'s shot law). Real
    * multi-page TIFF round-trip; [[videoFrameHashes]] at stride 1 over
    * these payloads feeds [[graft.operators.Dedup.sceneCuts]]. */
  def synthesizeVideoShots(
      docs: DataFrame, idCol: String, shotLen: Int = 3): DataFrame = {
    require(shotLen >= 1, "shotLen must be positive")
    docs.filter(col(idCol) % 3 === 2)
      .select(
        col(idCol).cast("long").as("media_id"),
        lit("video").as("media_type"),
        encodeTiffShotsUdf(col(idCol).cast("long"), lit(shotLen)).as("payload"),
        lit("image/tiff").as("mime"),
        concat(lit("https://media.example/"), col(idCol), lit(".tiff"))
          .as("source_url"))
  }

  /** Video twin of [[synthesizeMedia]]'s image path: the rows typed as
    * video (id % 3 == 2) re-synthesized with REAL multi-page TIFF
    * payloads — an actual multi-frame codec round-trip, JDK-only. */
  def synthesizeVideo(docs: DataFrame, idCol: String): DataFrame =
    docs.filter(col(idCol) % 3 === 2)
      .select(
        col(idCol).cast("long").as("media_id"),
        lit("video").as("media_type"),
        encodeTiffUdf(col(idCol).cast("long")).as("payload"),
        lit("image/tiff").as("mime"),
        concat(lit("https://media.example/"), col(idCol), lit(".tiff"))
          .as("source_url"))

  /** Batched per-partition multi-frame decode + frame sampling + per-frame
    * perceptual hash: parse the payload with the REAL ImageIO TIFF reader
    * (`getNumImages(true)` walks the page directory), keep every
    * `stride`-th frame (the frame-sample contract — a 100 TB video corpus
    * never hashes every frame), and fingerprint each sampled frame with
    * the [[aHashBands]] lattice (8×8 nearest-neighbor gray samples →
    * floor-mean threshold → 4×16-bit bands).
    *
    * One output row per (video, sampled frame): `(media_id, frame_idx,
    * bands array<int>)` — the signature table
    * [[graft.operators.Dedup.frameSigMatches]] pairs on. Undecodable
    * payloads are dropped. */
  def videoFrameHashes(media: DataFrame, grid: Int = 8, stride: Int = 2): DataFrame = {
    require(grid >= 4 && (grid * grid) % 16 == 0,
      "grid^2 must split into 16-bit bands")
    require(stride >= 1, "stride must be positive")
    val inSchema = media.schema
    val idIdx = inSchema.fieldIndex("media_id")
    val payloadIdx = inSchema.fieldIndex("payload")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("bands", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        if (payload == null || payload.isEmpty) Iterator.empty
        else {
          val readers = javax.imageio.ImageIO.getImageReadersByFormatName("tiff")
          if (!readers.hasNext) Iterator.empty
          else {
            val reader = readers.next()
            try {
              reader.setInput(javax.imageio.ImageIO.createImageInputStream(
                new java.io.ByteArrayInputStream(payload)), false, true)
              val n = reader.getNumImages(true)
              val id = r.getLong(idIdx)
              (0 until n by stride).iterator.map { f =>
                Row(id, f, aHashOf(reader.read(f), grid).toSeq)
              }.toVector.iterator
            } catch {
              case _: java.io.IOException => Iterator.empty
            } finally reader.dispose()
          }
        }
      }
    }
  }
}
