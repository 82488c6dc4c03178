package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Pin.PinOps

/** Multimodal column plumbing (builder brief): media as opaque `binary`
  * columns with typed metadata, batch feature extraction via `mapPartitions`
  * (the Scala analogue of a vectorized/batched UDF: one decode context per
  * partition, amortized over rows).
  *
  * IMAGE decode is REAL: [[decodeImage]]/[[decodeImages]] run the JDK's
  * `javax.imageio` readers (PNG/JPEG/GIF/BMP ship in every JRE) over the
  * payload bytes — container format, dimensions, and exact per-channel
  * pixel sums from the decoded raster. AUDIO decode is REAL:
  * [[decodeAudio]] runs `javax.sound.sampled` over WAV/PCM payloads —
  * rate, channels, and exact integer amplitude sums from the decoded
  * samples. VIDEO frame decode is REAL for animated-GIF containers
  * ([[decodeFrames]] — the one multi-frame format the JDK ships a codec
  * for): frame count from the container, per-frame rasters decoded on
  * seek. Other video containers (mp4/webm need licensed codecs no JDK
  * has) keep the deterministic stub (`decodeFrameStub`) behind the same
  * Spark-side contract.
  */
object Multimodal {

  /** One decoded image: format from the container's reader, exact integer
    * channel sums from the raster (sums, not means: integer arithmetic is
    * bit-portable across engines; a mean is one division away).
    */
  final case class DecodedImage(doc_id: Long, format: String, width: Int,
      height: Int, sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL single-image decode via `javax.imageio`: the reader is chosen by
    * container sniffing (so one pipeline handles PNG/JPEG/GIF/BMP mixed),
    * `format` is the reader's name lowercased, and the channel sums walk
    * the decoded raster — a header-only peek could not produce them.
    * Undecodable payloads raise (callers running untrusted corpora filter
    * or quarantine first; silently zeroed pixels would poison downstream
    * stats).
    */
  def decodeImage(id: Long, bytes: Array[Byte]): DecodedImage = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"no image reader recognizes payload of doc $id")
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val fmt = reader.getFormatName.toLowerCase
        val img = reader.read(0)
        val (sr, sg, sb) = sumChannels(img)
        DecodedImage(id, fmt, img.getWidth, img.getHeight, sr, sg, sb)
      } finally reader.dispose()
    } finally iis.close()
  }

  /** Exact per-channel pixel sums over a decoded raster — the shared hot
    * loop of [[decodeImage]] and [[decodeFrames]].
    */
  private def sumChannels(img: java.awt.image.BufferedImage): (Long, Long, Long) = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff
        sg += (rgb >> 8) & 0xff
        sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    (sr, sg, sb)
  }

  /** Batched real decode over a media table (doc_id, media): same
    * one-context-per-partition `mapPartitions` shape as the stubs — the
    * imageio reader registry lookup is amortized per partition by the
    * JDK's static registry, and payload bytes never enter an exchange.
    */
  def decodeImages(media: DataFrame)(implicit spark: SparkSession): Dataset[DecodedImage] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, bytes) => decodeImage(id, bytes) })
  }

  /** dHash bands of one decoded 9x8 image: the perceptual fingerprint
    * image-dedup pipelines bucket on. Input must already be the canonical
    * dHash geometry (9 columns x 8 rows — resize upstream with the q135
    * path); gray is the integer ITU-R 601 luma `(299r + 587g + 114b) div
    * 1000`, and bit `y*8 + x` is set when `gray(x+1, y) > gray(x, y)` (the
    * horizontal-gradient definition). The 64 bits are returned as four
    * 16-bit band integers, little-endian within a band — bands are BOTH
    * the storage form (no 64-bit value, so no sign-bit trap in SQL
    * engines) and the LSH unit: hamming distance <= 3 guarantees at least
    * one identical band (pigeonhole over 4 bands), so a band-bucket join
    * finds every pair within that radius with zero false negatives.
    */
  final case class DHashRow(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  /** The 64 gradient bits of one 9x8 raster as four 16-bit bands (the
    * shared kernel of [[dhash]] and [[frameDhashes]]).
    */
  private def dhashBands(id: Long, img: java.awt.image.BufferedImage): Array[Int] = {
    require(img.getWidth == 9 && img.getHeight == 8,
      s"dhash expects a 9x8 raster, got ${img.getWidth}x${img.getHeight} " +
        s"for doc $id — resize first")
    def gray(x: Int, y: Int): Int = {
      val rgb = img.getRGB(x, y)
      (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
        (rgb & 0xff) * 114) / 1000
    }
    val bands = new Array[Int](4)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (gray(x + 1, y) > gray(x, y)) {
          val i = y * 8 + x
          bands(i / 16) |= 1 << (i % 16)
        }
        x += 1
      }
      y += 1
    }
    bands
  }

  def dhash(id: Long, bytes: Array[Byte]): DHashRow = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"no image reader recognizes payload of doc $id")
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val bands = dhashBands(id, reader.read(0))
        DHashRow(id, bands(0), bands(1), bands(2), bands(3))
      } finally reader.dispose()
    } finally iis.close()
  }

  /** Per-frame dHash of a multi-frame (GIF) container — REAL frame decode
    * through the [[decodeFrames]] reader walk, each 9x8 frame hashed with
    * the shared [[dhashBands]] kernel. The frame-hash SET is a video's
    * content signature for [[videoNearDupPairs]].
    */
  final case class FrameHashRow(doc_id: Long, frame_idx: Int,
      b0: Int, b1: Int, b2: Int, b3: Int)

  def frameDhashes(media: DataFrame)(
      implicit spark: SparkSession): Dataset[FrameHashRow] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, bytes) =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          require(readers.hasNext, s"no image reader recognizes payload of doc $id")
          val reader = readers.next()
          try {
            reader.setInput(iis)
            require(reader.getFormatName.equalsIgnoreCase("gif"),
              s"doc $id: ${reader.getFormatName} is not a multi-frame container the JDK decodes")
            (0 until reader.getNumImages(true)).map { f =>
              val b = dhashBands(id, reader.read(f))
              FrameHashRow(id, f, b(0), b(1), b(2), b(3))
            }
          } finally reader.dispose()
        } finally iis.close()
      })
  }

  /** Near-duplicate VIDEOS by shared frame hashes: two containers match
    * when at least `minSharedHashes` DISTINCT frame fingerprints coincide
    * exactly — re-encoded/trimmed copies keep most frame hashes while
    * frame order, count, and padding may differ (which is why the
    * signature is a SET, not a sequence). The equi-join shuffles on the
    * full 64-bit hash (uniform keys); a hash shared by many videos is the
    * hot-key to watch — bound it upstream like minhash's empty-shingle
    * guard if a black-frame hash dominates a corpus.
    */
  def videoNearDupPairs(frameHashes: DataFrame,
      minSharedHashes: Int = 2): DataFrame = {
    require(minSharedHashes >= 1, s"minSharedHashes: $minSharedHashes")
    val h = frameHashes.select(col("doc_id"), col("b0"), col("b1"),
      col("b2"), col("b3")).distinct().pinLazy()
    val l = h.select(col("doc_id").as("id_a"), col("b0"), col("b1"),
      col("b2"), col("b3"))
    val r = h.select(col("doc_id").as("id_b"), col("b0"), col("b1"),
      col("b2"), col("b3"))
    l.join(r, Seq("b0", "b1", "b2", "b3"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_hashes"))
      .filter(col("n_shared_hashes") >= minSharedHashes)
  }

  /** Batched [[dhash]] over a media table (doc_id, media) — the
    * [[decodeImages]] mapPartitions shape; payload bytes never enter an
    * exchange, only the 4 x 16-bit fingerprint does.
    */
  def dhashImages(media: DataFrame)(implicit spark: SparkSession): Dataset[DHashRow] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, bytes) => dhash(id, bytes) })
  }

  /** Near-duplicate image pairs by banded dHash: union the four per-band
    * bucket self-joins (each finds pairs agreeing on that 16-bit band),
    * distinct the candidates, then verify full hamming distance <=
    * `maxHamming` via bit_count(xor) over the bands. For `maxHamming <= 3`
    * recall is exact by pigeonhole; larger radii keep zero false positives
    * but may miss pairs whose differing bits spread across all four bands
    * (the standard banded-LSH trade, documented at the call site). Bucket
    * skew is bounded by the corpus's most common band value — flat-gray
    * corpora should pre-filter constant images (all-zero bands), same as
    * minhash's empty-shingle guard.
    */
  def dhashNearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0, s"maxHamming: $maxHamming")
    val bandCols = Seq("b0", "b1", "b2", "b3")
    // the four band joins self-join `hashes`: materialize it ONCE so an
    // upstream decode/codec pass is not re-executed per join branch (the
    // winnowing shared-fingerprint discipline; 6.1 -> ~2 s on the q271
    // bench shape, where the input is a real PNG decode)
    val pinned = hashes.pinLazy()
    val l = pinned.select(col("doc_id").as("id_a"),
      col("b0").as("a0"), col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val r = pinned.select(col("doc_id").as("id_b"),
      col("b0").as("c0"), col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    val cands = bandCols.indices.map { k =>
      l.join(r, col(s"a$k") === col(s"c$k") && col("id_a") < col("id_b"))
    }.reduce(_ unionAll _).distinct()
    val ham = (0 to 3).map(k =>
      bit_count(col(s"a$k").bitwiseXOR(col(s"c$k")))).reduce(_ + _)
    cands.withColumn("hamming", ham.cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Real PNG encode (the test/fixture side of [[decodeImage]]): pixel
    * (x, y) gets the RGB triple from `px`. PNG is lossless, so
    * encode-then-decode round-trips sums exactly.
    */
  def encodePng(w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(w >= 1 && h >= 1, s"w=$w h=$h")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = px(x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** One media row: payload + typed metadata, mirroring how a 100 TB corpus
    * stores media (payload column stays opaque; metadata is columnar and
    * prunable so metadata-only queries never touch bytes).
    */
  final case class MediaRow(doc_id: Long, media: Array[Byte], format: String,
      width: Int, height: Int)

  final case class MediaFeatures(doc_id: Long, n_bytes: Long, format: String,
      aspect_ratio: Double, feature: Array[Float])

  /** STUB standing in for a real EMBEDDING model (deterministic): derives a
    * fake 4-dim feature from payload bytes — feature extraction needs a
    * trained model, which no JDK ships. Actual image DECODE is real
    * ([[decodeImage]]); this stub remains only where a learned feature
    * vector is the contract (extractFeatures, the video frame path).
    */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    Array(
      (h & 0xffff).toFloat / 65535f,
      ((h >>> 16) & 0xffff).toFloat / 65535f,
      ((h >>> 32) & 0xffff).toFloat / 65535f,
      bytes.length.toFloat)
  }

  /** Batched feature extraction: one pass per partition, decoder state would
    * be initialized once per partition in a real codec (the expensive part
    * this shape amortizes).
    */
  def extractFeatures(media: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      // real impl: val codec = Codec.open() — once per partition
      rows.map { r =>
        val feat = decodeStub(r.media)
        MediaFeatures(r.doc_id, r.media.length.toLong, r.format,
          if (r.height == 0) 0.0 else r.width.toDouble / r.height, feat)
      }
    }
  }

  /** Build a media table from the documents corpus (payload = utf8 bytes —
    * the deterministic stand-in for real image bytes).
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").cast("long"),
      col("text").cast("binary").as("media"),
      lit("utf8").as("format"),
      (col("n_chars") % 640).cast("int").as("width"),
      (col("n_chars") % 480 + 1).cast("int").as("height"))

  /** Metadata-only projection — must prune the payload column at scan time
    * (verify via explain: ReadSchema excludes `media`).
    */
  def metadataStats(media: DataFrame): DataFrame =
    media.groupBy(col("format"))
      .agg(count(lit(1)).as("n_items"),
           sum(col("width").cast("long") * col("height").cast("long")).as("total_pixels"))

  /** REAL image resize via the JDK: decode ([[decodeImage]]'s reader path),
    * nearest-neighbor rescale into a fresh RGB raster (explicit source-pixel
    * arithmetic `sx = x*srcW/dstW` — exact integer floor division, so the
    * mapping is bit-deterministic and engine-independent, unlike
    * Graphics2D's interpolation pipeline), re-encode as PNG (lossless).
    */
  def resizeImage(bytes: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
    require(targetW >= 1 && targetH >= 1, s"targetW=$targetW targetH=$targetH")
    val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(src != null, "payload is not a decodable image")
    val dst = new java.awt.image.BufferedImage(targetW, targetH,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < targetH) {
      val sy = (y.toLong * src.getHeight / targetH).toInt
      var x = 0
      while (x < targetW) {
        val sx = (x.toLong * src.getWidth / targetW).toInt
        dst.setRGB(x, y, src.getRGB(sx, sy) & 0xffffff)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(dst, "png", out)
    out.toByteArray
  }

  /** Batched real image resize: payload replaced by the re-encoded PNG,
    * metadata kept in sync — same one-context-per-partition shape as
    * [[decodeImages]].
    */
  def resizeImages(media: Dataset[MediaRow], targetW: Int, targetH: Int)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    media.mapPartitions(rows => rows.map(r =>
      r.copy(media = resizeImage(r.media, targetW, targetH),
        format = "png", width = targetW, height = targetH)))
  }

  /** STUB for a resize of NON-image media ((bytes, w, h) -> bytes):
    * deterministic proportional byte sampling standing in for a codec-aware
    * downscale; the signature is the production contract. Image payloads
    * use the REAL [[resizeImage]].
    */
  def resizeStub(bytes: Array[Byte], targetW: Int, targetH: Int): Array[Byte] =
    // empty/corrupt payloads pass through empty instead of indexing into a
    // zero-length array
    if (bytes.isEmpty) bytes
    else {
      val n = math.max(1, math.min(bytes.length, targetW * targetH / 64))
      Array.tabulate(n)(i => bytes((i.toLong * bytes.length / n).toInt))
    }

  /** Batched resize over the media table: payload replaced, metadata kept in
    * sync — same one-codec-context-per-partition shape as extractFeatures.
    */
  def resizeMedia(media: Dataset[MediaRow], targetW: Int, targetH: Int)(
      implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map(r => r.copy(media = resizeStub(r.media, targetW, targetH),
        width = targetW, height = targetH))
    }
  }

  final case class FrameRow(doc_id: Long, frame_idx: Int, ts_sec: Double,
      feature: Array[Float])

  /** STUB for a per-frame decode (seek + decode one frame): deterministic
    * fake keyed by (payload, frame index). Signature is the production
    * contract — a real codec opens the container once per row and seeks.
    */
  def decodeFrameStub(bytes: Array[Byte], frameIdx: Int): Array[Float] = {
    val base = decodeStub(bytes)
    base.indices.map(i => base(i) + frameIdx.toFloat / 1000f).toArray
  }

  /** Video frame sampling: every `stride`-th frame index is derived from
    * METADATA alone (`n_frames` — a columnar sequence+explode, the payload
    * untouched), then only the selected frames batch-decode in
    * `mapPartitions`. At 100 TB the payload is fetched once per doc row and
    * the per-frame decode loop is the amortized hot path; frame selection
    * itself never reads a byte of media.
    */
  def sampleFrames(videos: DataFrame, stride: Int)(
      implicit spark: SparkSession): Dataset[FrameRow] = {
    import spark.implicits._
    require(stride > 0, s"stride: $stride")
    // zero/negative-frame rows (corrupt containers) emit NO frames instead
    // of killing the job: sequence(0, -1, +stride) is a runtime error
    videos.select(col("doc_id").cast("long"), col("media"),
        // NULL fps is the same corrupt-container class as n_frames <= 0:
        // the typed tuple below decodes fps into a PRIMITIVE double, and a
        // NULL would fail the encoder and kill the job instead of
        // degrading to ts 0.0 like the fps == 0 guard
        coalesce(col("fps").cast("double"), lit(0.0)),
        explode(when(col("n_frames") > 0,
            sequence(lit(0), col("n_frames").cast("int") - 1, lit(stride)))
          .otherwise(array().cast("array<int>")))
          .as("frame_idx"))
      .as[(Long, Array[Byte], Double, Int)]
      .mapPartitions { rows =>
        // real impl: container opened once per doc_id run, seek per frame
        rows.map { case (id, media, fps, idx) =>
          FrameRow(id, idx, if (fps == 0) 0.0 else idx / fps,
            decodeFrameStub(media, idx))
        }
      }
  }

  // ------------------------------------------------------------------
  // REAL audio: WAV/PCM via javax.sound.sampled (ships in every JRE)
  // ------------------------------------------------------------------

  /** One decoded audio clip: container stats plus exact integer amplitude
    * aggregates over the decoded samples (sums, not means/dB — integer
    * arithmetic is bit-portable across engines; see [[DecodedImage]]).
    * `n_samples` counts per-channel samples (frames x channels).
    */
  final case class DecodedAudio(doc_id: Long, sample_rate: Int, channels: Int,
      n_samples: Long, sum_amp: Long, sum_abs_amp: Long, peak_amp: Int)

  /** Real WAV encode (the fixture side of [[decodeAudio]]): 16-bit signed
    * PCM little-endian, interleaved if multi-channel. WAV/PCM is lossless,
    * so encode-then-decode round-trips amplitude sums exactly.
    */
  def encodeWav(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    require(sampleRate >= 1 && channels >= 1, s"rate=$sampleRate ch=$channels")
    require(samples.length % channels == 0,
      s"${samples.length} samples not a whole number of $channels-channel frames")
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length / channels)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** REAL single-clip decode via `javax.sound.sampled`: format comes from
    * the WAV container's header, and the amplitude aggregates walk every
    * decoded 16-bit sample (both endiannesses handled — the header, not an
    * assumption, decides). Non-PCM or non-16-bit payloads raise, same
    * quarantine-first contract as [[decodeImage]].
    */
  def decodeAudio(id: Long, bytes: Array[Byte]): DecodedAudio = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = ais.getFormat
      require(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        s"doc $id: unsupported encoding ${fmt.getEncoding}")
      require(fmt.getSampleSizeInBits == 16,
        s"doc $id: unsupported sample size ${fmt.getSampleSizeInBits}")
      val big = fmt.isBigEndian
      val buf = ais.readAllBytes()
      var sum = 0L; var sumAbs = 0L; var peak = Int.MinValue
      var i = 0
      while (i + 1 < buf.length) {
        val s: Int =
          if (big) ((buf(i) << 8) | (buf(i + 1) & 0xff)).toShort.toInt
          else ((buf(i + 1) << 8) | (buf(i) & 0xff)).toShort.toInt
        sum += s
        sumAbs += math.abs(s)
        if (s > peak) peak = s
        i += 2
      }
      DecodedAudio(id, fmt.getSampleRate.toInt, fmt.getChannels,
        buf.length / 2, sum, sumAbs, if (peak == Int.MinValue) 0 else peak)
    } finally ais.close()
  }

  /** Decoded 16-bit samples of one clip (shared reader under
    * [[decodeAudio]] and [[audioFingerprint]]).
    */
  private def readSamples(id: Long, bytes: Array[Byte]): Array[Int] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = ais.getFormat
      require(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        s"doc $id: unsupported encoding ${fmt.getEncoding}")
      require(fmt.getSampleSizeInBits == 16,
        s"doc $id: unsupported sample size ${fmt.getSampleSizeInBits}")
      val big = fmt.isBigEndian
      val buf = ais.readAllBytes()
      val out = new Array[Int](buf.length / 2)
      var i = 0
      while (i + 1 < buf.length) {
        out(i / 2) =
          if (big) ((buf(i) << 8) | (buf(i + 1) & 0xff)).toShort.toInt
          else ((buf(i + 1) << 8) | (buf(i) & 0xff)).toShort.toInt
        i += 2
      }
      out
    } finally ais.close()
  }

  /** Audio fingerprint: four 16-bit bands, band k = (sum of |sample| over
    * frame k of `frameLen` samples) mod 65536 — exact integer frame
    * energy, the cheap time-domain signature (no FFT, so any engine can
    * replay it from known sample arithmetic; a spectral fingerprint would
    * slot into the same band shape). Clips must carry at least
    * `4 * frameLen` samples — a fingerprint over silence-padded frames
    * would near-dup every short clip against every other.
    */
  final case class AudioFp(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  def audioFingerprint(id: Long, bytes: Array[Byte], frameLen: Int): AudioFp = {
    require(frameLen >= 1, s"frameLen: $frameLen")
    val s = readSamples(id, bytes)
    require(s.length >= 4 * frameLen,
      s"doc $id: ${s.length} samples < ${4 * frameLen} (4 frames)")
    val bands = new Array[Int](4)
    var f = 0
    while (f < 4) {
      var acc = 0L
      var i = f * frameLen
      while (i < (f + 1) * frameLen) {
        acc += math.abs(s(i))
        i += 1
      }
      bands(f) = (acc % 65536L).toInt
      f += 1
    }
    AudioFp(id, bands(0), bands(1), bands(2), bands(3))
  }

  /** Batched [[audioFingerprint]] — the [[decodeImages]] mapPartitions
    * shape; only the 4 x 16-bit signature leaves the codec boundary.
    */
  def audioFingerprints(media: DataFrame, frameLen: Int)(
      implicit spark: SparkSession): Dataset[AudioFp] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, bytes) =>
        audioFingerprint(id, bytes, frameLen) })
  }

  /** Near-duplicate pairs by shared fingerprint bands — the agreement
    * variant of [[dhashNearDupPairs]] for signatures where bitwise
    * distance is meaningless (frame energies): candidates must agree on
    * at least one band (the LSH join), and a pair survives when at least
    * `minSharedBands` of the four agree exactly. minSharedBands <= 3
    * tolerates one corrupted frame with exact recall by pigeonhole.
    */
  def bandedNearDupPairs(hashes: DataFrame, minSharedBands: Int = 3): DataFrame = {
    require(minSharedBands >= 1 && minSharedBands <= 4,
      s"minSharedBands: $minSharedBands")
    val pinned = hashes.pinLazy()
    val l = pinned.select(col("doc_id").as("id_a"),
      col("b0").as("a0"), col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val r = pinned.select(col("doc_id").as("id_b"),
      col("b0").as("c0"), col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    val cands = (0 to 3).map { k =>
      l.join(r, col(s"a$k") === col(s"c$k") && col("id_a") < col("id_b"))
    }.reduce(_ unionAll _).distinct()
    val shared = (0 to 3).map(k =>
      when(col(s"a$k") === col(s"c$k"), 1).otherwise(0)).reduce(_ + _)
    cands.withColumn("n_shared_bands", shared.cast("int"))
      .filter(col("n_shared_bands") >= minSharedBands)
      .select("id_a", "id_b", "n_shared_bands")
  }

  /** Batched real audio decode over a media table (doc_id, media): same
    * one-context-per-partition `mapPartitions` shape as [[decodeImages]] —
    * payload bytes never enter an exchange.
    */
  def decodeAudios(media: DataFrame)(implicit spark: SparkSession): Dataset[DecodedAudio] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, bytes) => decodeAudio(id, bytes) })
  }

  // ------------------------------------------------------------------
  // REAL video frames: animated GIF via javax.imageio
  // ------------------------------------------------------------------

  /** One decoded video frame: per-frame dimensions (animated GIF allows
    * partial-canvas frames) and exact per-channel pixel sums from the
    * decoded raster. Frames are decoded RAW — GIF disposal/compositing is
    * playback semantics, not decode semantics, and applying it would make
    * per-frame stats depend on every earlier frame.
    */
  final case class DecodedFrame(doc_id: Long, frame_idx: Int, width: Int,
      height: Int, sum_r: Long, sum_g: Long, sum_b: Long)

  /** Real animated-GIF encode (the fixture side of [[decodeFrames]]): each
    * frame's pixels come from `px(frame, x, y)`; the frame's palette is
    * built from its EXACT distinct colors (<= 256 per frame, the GIF
    * constraint — enforced, not quantized away), so encode-then-decode
    * round-trips pixel sums exactly.
    */
  def encodeGif(w: Int, h: Int, nFrames: Int,
      px: (Int, Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(w >= 1 && h >= 1 && nFrames >= 1, s"w=$w h=$h nFrames=$nFrames")
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val writers = javax.imageio.ImageIO.getImageWritersByFormatName("gif")
    require(writers.hasNext, "JDK gif writer missing")
    val writer = writers.next()
    try {
      writer.setOutput(ios)
      // NON-interlaced frames: the JDK writer interlaces by default, and
      // the JDK READER mis-decodes interlaced frames of height 2..4 (rows
      // past the first come back as palette entry 0 — verified against an
      // independent LZW decode of the written bytes, which are correct).
      // Sequential scan order sidesteps the reader bug for every size.
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        // exact palette: index the frame's distinct colors
        val colors = new java.util.LinkedHashMap[Int, Int]()
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val (r, g, b) = px(f, x, y)
            colors.putIfAbsent((r << 16) | (g << 8) | b, colors.size)
            x += 1
          }
          y += 1
        }
        require(colors.size <= 256,
          s"frame $f has ${colors.size} distinct colors; GIF palettes hold 256")
        val n = colors.size
        val reds = new Array[Byte](n); val greens = new Array[Byte](n)
        val blues = new Array[Byte](n)
        colors.forEach { (rgb, idx) =>
          reds(idx) = ((rgb >> 16) & 0xff).toByte
          greens(idx) = ((rgb >> 8) & 0xff).toByte
          blues(idx) = (rgb & 0xff).toByte
        }
        val cm = new java.awt.image.IndexColorModel(8, n, reds, greens, blues)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
        val raster = img.getRaster
        y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val (r, g, b) = px(f, x, y)
            raster.setSample(x, y, 0, colors.get((r << 16) | (g << 8) | b))
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  /** REAL per-container frame decode: opens the payload ONCE, takes the
    * frame count from the container itself (`getNumImages` — not a metadata
    * column that could drift from the bytes), and decodes every `stride`-th
    * frame's raster. Non-GIF payloads raise ([[decodeFrameStub]] remains
    * the contract for containers the JDK has no codec for). Known JDK
    * reader quirk (outside this library): INTERLACED frames of height
    * 2..4 decode with rows past the first zeroed — [[encodeGif]] writes
    * sequential scan order, but foreign interlaced payloads that small
    * inherit the platform bug.
    */
  def decodeFrames(id: Long, bytes: Array[Byte], stride: Int): Seq[DecodedFrame] = {
    require(stride > 0, s"stride: $stride")
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"no image reader recognizes payload of doc $id")
      val reader = readers.next()
      try {
        reader.setInput(iis)
        require(reader.getFormatName.equalsIgnoreCase("gif"),
          s"doc $id: ${reader.getFormatName} is not a multi-frame container the JDK decodes")
        val nFrames = reader.getNumImages(true)
        val frames = Seq.newBuilder[DecodedFrame]
        var idx = 0
        while (idx < nFrames) {
          val img = reader.read(idx)
          val (sr, sg, sb) = sumChannels(img)
          frames += DecodedFrame(id, idx, img.getWidth, img.getHeight, sr, sg, sb)
          idx += stride
        }
        frames.result()
      } finally reader.dispose()
    } finally iis.close()
  }

  /** Batched real frame sampling over a media table (doc_id, media): one
    * container open per row, every `stride`-th frame decoded — the payload
    * is fetched once per doc and never enters an exchange; downstream
    * per-frame work sees only the narrow decoded columns.
    */
  def decodeFramesAll(media: DataFrame, stride: Int)(
      implicit spark: SparkSession): Dataset[DecodedFrame] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.flatMap { case (id, bytes) =>
        decodeFrames(id, bytes, stride)
      })
  }

  // ---- MP4 / ISO BMFF container (metadata layer — no codec required) ----

  final case class Mp4Meta(doc_id: Long, brand: String, timescale: Long,
      duration_ms: Long, n_tracks: Int, width: Int, height: Int)

  /** Minimal valid ISO BMFF stream: `ftyp` + `moov(mvhd, trak(tkhd)...)`.
    * Pure big-endian byte assembly (no codec, no library) — the
    * deterministic video fixture for the container-metadata path. Sample
    * data (`mdat`) is intentionally absent: this library's video DECODE
    * remains stubbed (JDK ships no H.264/VP9 codec — decodeFrameStub is
    * the contract); the CONTAINER layer below is real.
    */
  def encodeMp4(durationMs: Long, timescale: Long, tracks: Seq[(Int, Int)],
      brand: String = "isom"): Array[Byte] = {
    require(durationMs >= 0 && timescale >= 1, s"$durationMs/$timescale")
    require(brand.length == 4, s"brand must be 4 chars: '$brand'")
    def u32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(tpe: String, payload: Array[Byte]): Array[Byte] =
      u32(8L + payload.length) ++ tpe.getBytes("US-ASCII") ++ payload
    val duration = durationMs * timescale / 1000L
    val mvhd = box("mvhd",
      u32(0) ++ u32(0) ++ u32(0) ++ u32(timescale) ++ u32(duration) ++
        u32(0x00010000L) ++ Array[Byte](0x01, 0x00) ++ new Array[Byte](10) ++
        (u32(0x00010000L) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0x00010000L) ++
          u32(0) ++ u32(0) ++ u32(0) ++ u32(0x40000000L)) ++
        new Array[Byte](24) ++ u32(tracks.size + 1L))
    val traks = tracks.zipWithIndex.map { case ((w, h), i) =>
      box("trak", box("tkhd",
        u32(7) ++ u32(0) ++ u32(0) ++ u32(i + 1L) ++ u32(0) ++ u32(duration) ++
          new Array[Byte](8) ++ new Array[Byte](8) ++
          (u32(0x00010000L) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0x00010000L) ++
            u32(0) ++ u32(0) ++ u32(0) ++ u32(0x40000000L)) ++
          u32(w.toLong << 16) ++ u32(h.toLong << 16)))
    }
    val ftyp = box("ftyp",
      brand.getBytes("US-ASCII") ++ u32(0) ++ brand.getBytes("US-ASCII"))
    ftyp ++ box("moov", traks.foldLeft(mvhd)(_ ++ _))
  }

  /** REAL ISO BMFF box walk: parses the `ftyp` brand, `mvhd`
    * timescale/duration (version 0 and the 64-bit version 1 layout), and
    * every `trak/tkhd`'s 16.16 fixed-point dimensions. Works on any
    * well-formed MP4/M4A/MOV-family file — the box grammar is the
    * container standard, independent of what codec fills the samples.
    * Malformed structure raises (truncated box, size < 8); `size == 0`
    * (box-to-EOF) and `size == 1` (64-bit largesize) are honored.
    */
  def parseMp4(id: Long, bytes: Array[Byte]): Mp4Meta = {
    val bb = java.nio.ByteBuffer.wrap(bytes) // big-endian by default
    var brand = ""
    var timescale = 0L
    var duration = 0L
    var tracks = List.empty[(Int, Int)]
    def u32(at: Int): Long = bb.getInt(at) & 0xffffffffL
    def walk(start: Int, end: Int, depth: Int): Unit = {
      var off = start
      while (off < end) {
        require(end - off >= 8, s"doc $id: truncated box header at $off")
        var size = u32(off)
        val tpe = new String(bytes, off + 4, 4, "US-ASCII")
        var header = 8
        if (size == 0) size = (end - off).toLong
        else if (size == 1) { size = bb.getLong(off + 8); header = 16 }
        require(size >= header && off + size <= end,
          s"doc $id: box '$tpe' size $size overruns [$off, $end)")
        val body = off + header
        tpe match {
          case "ftyp" => brand = new String(bytes, body, 4, "US-ASCII")
          case "moov" | "trak" => walk(body, off + size.toInt, depth + 1)
          case "mvhd" =>
            val v = bytes(body) & 0xff
            if (v == 1) { timescale = u32(body + 20); duration = bb.getLong(body + 24) }
            else { timescale = u32(body + 12); duration = u32(body + 16) }
          case "tkhd" =>
            val v = bytes(body) & 0xff
            // width/height are the LAST 8 bytes of tkhd either version
            val dims = off + size.toInt - 8
            tracks ::= (((u32(dims) >> 16).toInt, (u32(dims + 4) >> 16).toInt))
          case _ => // leaf we don't need (mdat, free, udta...)
        }
        off += size.toInt
      }
    }
    walk(0, bytes.length, 0)
    require(timescale > 0, s"doc $id: no mvhd box found")
    val (w, h) = tracks.reverse.headOption.getOrElse((0, 0))
    Mp4Meta(id, brand, timescale, duration * 1000L / timescale,
      tracks.size, w, h)
  }

  /** Batched container-metadata extraction (doc_id, media) — the same
    * payload-never-shuffles mapPartitions shape as [[decodeImages]].
    */
  def parseMp4All(media: DataFrame)(
      implicit spark: SparkSession): Dataset[Mp4Meta] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, b) => parseMp4(id, b) })
  }

  // ---- WebM / Matroska container (EBML metadata layer) ----

  final case class WebmMeta(doc_id: Long, doc_type: String,
      timescale_ns: Long, duration_ms: Long, n_video_tracks: Int,
      width: Int, height: Int)

  private val EbmlId = Array[Byte](0x1a, 0x45, 0xdf.toByte, 0xa3.toByte)
  private val DocTypeId = Array[Byte](0x42, 0x82.toByte)
  private val SegmentId = Array[Byte](0x18, 0x53, 0x80.toByte, 0x67)
  private val InfoId = Array[Byte](0x15, 0x49, 0xa9.toByte, 0x66)
  private val TimestampScaleId = Array[Byte](0x2a, 0xd7.toByte, 0xb1.toByte)
  private val DurationId = Array[Byte](0x44, 0x89.toByte)
  private val TracksId = Array[Byte](0x16, 0x54, 0xae.toByte, 0x6b)
  private val TrackEntryId = Array[Byte](0xae.toByte)
  private val TrackTypeId = Array[Byte](0x83.toByte)
  private val VideoId = Array[Byte](0xe0.toByte)
  private val PixelWidthId = Array[Byte](0xb0.toByte)
  private val PixelHeightId = Array[Byte](0xba.toByte)

  /** Minimal-length EBML size varint (marker bit in the leading byte). */
  private def ebmlSize(v: Long): Array[Byte] = {
    require(v >= 0 && v < (1L << 49), s"ebml size: $v")
    if (v < 127) Array((0x80L | v).toByte)
    else if (v < 16383) Array((0x40L | (v >> 8)).toByte, (v & 0xff).toByte)
    else {
      // 8-byte form covers the rest of the supported range
      Array(0x01.toByte) ++ (0 until 7).map(i =>
        ((v >> (8 * (6 - i))) & 0xff).toByte)
    }
  }

  private def ebmlEl(id: Array[Byte], payload: Array[Byte]): Array[Byte] =
    id ++ ebmlSize(payload.length.toLong) ++ payload

  private def ebmlUint(v: Long): Array[Byte] = {
    require(v >= 0, s"uint: $v")
    var n = 1
    while (n < 8 && (v >> (8 * n)) != 0) n += 1
    (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte).toArray
  }

  /** Minimal valid WebM (Matroska subset): EBML header with DocType,
    * Segment(Info(TimestampScale, Duration), Tracks(TrackEntry...)).
    * Duration is the mandated FLOAT element, written as an 8-byte double
    * of a whole number of 1 ms units (TimestampScale = 1e6 ns) so the
    * value — and therefore the parse — is exact. Like [[encodeMp4]],
    * clusters/sample data are absent by design: WebM frame DECODE needs a
    * VP8/VP9 codec the JDK does not ship; the CONTAINER layer is real.
    */
  def encodeWebm(durationMs: Long, videoTracks: Seq[(Int, Int)],
      docType: String = "webm"): Array[Byte] = {
    require(durationMs >= 0, s"durationMs: $durationMs")
    val header = ebmlEl(EbmlId, ebmlEl(DocTypeId, docType.getBytes("US-ASCII")))
    val info = ebmlEl(InfoId,
      ebmlEl(TimestampScaleId, ebmlUint(1000000L)) ++
        ebmlEl(DurationId, {
          val bb = java.nio.ByteBuffer.allocate(8)
          bb.putDouble(durationMs.toDouble)
          bb.array()
        }))
    val tracks = ebmlEl(TracksId, videoTracks.map { case (w, h) =>
      ebmlEl(TrackEntryId,
        ebmlEl(TrackTypeId, ebmlUint(1L)) ++
          ebmlEl(VideoId,
            ebmlEl(PixelWidthId, ebmlUint(w.toLong)) ++
              ebmlEl(PixelHeightId, ebmlUint(h.toLong))))
    }.foldLeft(Array.empty[Byte])(_ ++ _))
    header ++ ebmlEl(SegmentId, info ++ tracks)
  }

  /** REAL EBML walk: varint IDs/sizes per the Matroska spec (leading-zero
    * length prefix; the size marker bit stripped, unknown-size 0xFF
    * honored as to-parent-end), descending Segment -> Info/Tracks ->
    * TrackEntry -> Video. Extracts DocType, TimestampScale (default 1e6
    * ns when absent, per spec), float Duration (4- or 8-byte), and the
    * first video track's pixel dimensions. Malformed varints or overruns
    * raise.
    */
  def parseWebm(id: Long, bytes: Array[Byte]): WebmMeta = {
    var docType = ""
    var timescale = 1000000L // Matroska default
    var durationUnits = 0.0
    var videoTracks = List.empty[(Int, Int)]
    def varint(off: Int, stripMarker: Boolean): (Long, Int) = {
      require(off < bytes.length, s"doc $id: varint past EOF at $off")
      val b0 = bytes(off) & 0xff
      require(b0 != 0, s"doc $id: invalid varint lead 0x00 at $off")
      val len = java.lang.Integer.numberOfLeadingZeros(b0) - 24 + 1
      require(off + len <= bytes.length, s"doc $id: varint overruns at $off")
      var v = if (stripMarker) (b0 & (0xff >> len)).toLong else b0.toLong
      var i = 1
      while (i < len) { v = (v << 8) | (bytes(off + i) & 0xff); i += 1 }
      (v, len)
    }
    def uintAt(off: Int, len: Int): Long = {
      var v = 0L
      var i = 0
      while (i < len) { v = (v << 8) | (bytes(off + i) & 0xff); i += 1 }
      v
    }
    def idMatches(off: Int, len: Int, target: Array[Byte]): Boolean =
      len == target.length && (0 until len).forall(i => bytes(off + i) == target(i))
    def walk(start: Int, end: Int, inTrackEntry: Boolean): Unit = {
      var off = start
      var curW = -1; var curH = -1; var isVideo = false
      while (off < end) {
        val (_, idLen) = varint(off, stripMarker = false)
        val (size0, szLen) = varint(off + idLen, stripMarker = true)
        val body = off + idLen + szLen
        // unknown-size (all value bits set) = runs to the parent's end
        val size = if (size0 == (1L << (7 * szLen)) - 1) (end - body).toLong
          else size0
        require(body + size <= end,
          s"doc $id: element at $off size $size overruns [$start, $end)")
        val bl = size.toInt
        if (idMatches(off, idLen, SegmentId) || idMatches(off, idLen, InfoId) ||
          idMatches(off, idLen, TracksId))
          walk(body, body + bl, inTrackEntry = false)
        else if (idMatches(off, idLen, TrackEntryId))
          walk(body, body + bl, inTrackEntry = true)
        else if (idMatches(off, idLen, VideoId) && inTrackEntry) {
          // scan Video's children in THIS frame: the dims belong to the
          // enclosing TrackEntry, not a nested walk's locals
          var o2 = body
          while (o2 < body + bl) {
            val (_, il2) = varint(o2, stripMarker = false)
            val (s2, sl2) = varint(o2 + il2, stripMarker = true)
            val b2 = o2 + il2 + sl2
            if (idMatches(o2, il2, PixelWidthId)) curW = uintAt(b2, s2.toInt).toInt
            else if (idMatches(o2, il2, PixelHeightId)) curH = uintAt(b2, s2.toInt).toInt
            o2 = b2 + s2.toInt
          }
        }
        else if (idMatches(off, idLen, EbmlId)) walk(body, body + bl, false)
        else if (idMatches(off, idLen, DocTypeId))
          docType = new String(bytes, body, bl, "US-ASCII")
        else if (idMatches(off, idLen, TimestampScaleId))
          timescale = uintAt(body, bl)
        else if (idMatches(off, idLen, DurationId)) {
          require(bl == 4 || bl == 8, s"doc $id: Duration float length $bl")
          durationUnits = if (bl == 4)
            java.lang.Float.intBitsToFloat(uintAt(body, 4).toInt).toDouble
          else java.lang.Double.longBitsToDouble(uintAt(body, 8))
        } else if (idMatches(off, idLen, TrackTypeId) && inTrackEntry) {
          if (uintAt(body, bl) == 1L) isVideo = true
        }
        off = body + bl
      }
      if (inTrackEntry && isVideo && curW >= 0 && curH >= 0)
        videoTracks ::= ((curW, curH))
    }
    walk(0, bytes.length, inTrackEntry = false)
    require(docType.nonEmpty, s"doc $id: no EBML DocType found")
    val durationMs = (durationUnits * timescale / 1e6).toLong
    val (w, h) = videoTracks.reverse.headOption.getOrElse((0, 0))
    WebmMeta(id, docType, timescale, durationMs, videoTracks.size, w, h)
  }

  /** Batched WebM metadata extraction — the [[parseMp4All]] shape. */
  def parseWebmAll(media: DataFrame)(
      implicit spark: SparkSession): Dataset[WebmMeta] = {
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(rows => rows.map { case (id, b) => parseWebm(id, b) })
  }
}
