package graft.operators

import graft.{QuerySpec, Tables}
import graft.index.{Delete, Fixture, Fold, FoldProtocol, IndexKind, Merge, Seed, Step, Vacuum}
import graft.media._
import graft.media.Media._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `binary` columns with typed metadata travelling alongside. The
  * default decode / feature-extract kernel is a deterministic
  * byte-driven STUB (no media libraries in this environment), but the
  * SPI demonstrably carries real implementations for ALL THREE mime
  * families, pure-JVM — including the two real-world image containers:
  * [[PngMediaKernel]] (full PNG: CRC chunk walk, inflate, all five
  * scanline filters, every 8-bit color type), [[JpegMediaKernel]]
  * (baseline JFIF: Huffman entropy decode, dequant, IDCT, chroma
  * upsampling, YCbCr→RGB), [[PpmMediaKernel]] (binary PPM/P6 images —
  * header parse, pixel statistics, nearest-neighbor resample, row
  * sampling), [[WavMediaKernel]] (RIFF/WAVE PCM audio — chunk walk,
  * waveform statistics, integer thumbnail requantization, block
  * sampling), [[Y4mMediaKernel]] (YUV4MPEG2 raw video — stream/frame
  * parse, luma/chroma/motion statistics, poster thumbnails, TRUE
  * frame sampling), composed by the magic-byte
  * [[DispatchMediaKernel]] router; the gate queries stay
  * byte-identical with any of them active
  * (Ppm/Wav/Y4m/Png/JpegKernelSpec).
  * The Spark-side contract (schema, batching, partition-parallel
  * execution, feature vector shape) is real and tested either way.
  *
  * At 100 TB the binary column dominates I/O: metadata queries must never
  * read it (column pruning does this for free in parquet as long as meta
  * lives in sibling columns, not inside the blob), and decode runs
  * batch-at-a-time per partition to amortize per-call overhead — the same
  * shape `mapInPandas`/Arrow batches give PySpark.
  */
object Multimodal {
  @volatile private var activeKernel: MediaKernel = StubMediaKernel

  /** The kernel the operators will capture at plan time. */
  def kernel: MediaKernel = activeKernel

  /** Install a replacement kernel (a real decoder, or a fake in tests).
    * Takes effect for plans built AFTER the call — running plans keep
    * the kernel their closures captured.
    */
  def setKernel(k: MediaKernel): Unit = activeKernel = k

  /** Stub decode at the default seam (compat + spec entry point). */
  def decodeBatch(batch: Seq[Asset]): Seq[AssetFeatures] =
    StubMediaKernel.decodeBatch(batch)

  /** Stub resize at the default seam (compat + spec entry point). */
  def resizeBatch(batch: Seq[Asset], w: Int, h: Int): Seq[ResizedAsset] =
    StubMediaKernel.resizeBatch(batch, w, h)

  /** Frame sampling through the active kernel. */
  def sampleFrames(assets: Dataset[Asset], every: Int): Dataset[FrameSample] = {
    import assets.sparkSession.implicits._
    val k = kernel // captured at plan time, serialized with the closure
    assets.mapPartitions(_.flatMap(a => k.frames(a, every)))
  }

  /** Partition-parallel batched resize (same batching contract as
    * `extractFeatures`), through the active kernel.
    */
  def resizeAssets(assets: Dataset[Asset], w: Int, h: Int): Dataset[ResizedAsset] = {
    import assets.sparkSession.implicits._
    val k = kernel
    assets.mapPartitions(_.grouped(DecodeBatchSize)
      .flatMap(b => k.resizeBatch(b.toSeq, w, h)))
  }

  /** Synthesize an asset table from `documents` (text bytes as the opaque
    * payload — the deterministic stand-in for real media blobs).
    */
  def assets(spark: SparkSession, sfDir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id").as("asset_id"),
        when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("mime"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        col("text").cast("binary").as("content"))
      .as[Asset]
  }

  /** Partition-parallel, batched decode: the distributed plumbing around
    * the active kernel. Batches of `DecodeBatchSize` amortize per-call
    * cost exactly like Arrow record batches under `mapInPandas`.
    */
  def extractFeatures(assets: Dataset[Asset]): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    val k = kernel
    assets.mapPartitions { it =>
      it.grouped(DecodeBatchSize).flatMap(b => k.decodeBatch(b.toSeq))
    }
  }

  // ---------------------------------------------------------------------
  // Perceptual image near-dup dedup — the multimodal twin of
  // dedup_simhash: dHash over the decoded pixel frame, Hamming-banded
  // LSH candidates, exact popcount verify, connected components.
  // ---------------------------------------------------------------------

  /** dHash grid: 8×8 horizontal-gradient bits need a 9-column grid. */
  val DHashGridW = 9
  val DHashGridH = 8

  /** One asset's 64-bit perceptual hash. */
  final case class PerceptualHash(asset_id: Long, phash: Long)

  /** Difference hash (dHash) of one decoded RGB frame: integer luma
    * (299r + 587g + 114b)/1000 per pixel, floor-boundary box-average
    * downsample to a 9×8 grid (box for cell (cx,cy) spans
    * x ∈ [cx·w/9, (cx+1)·w/9) — every box non-empty for w ≥ 9), then
    * bit (cy·8 + cx) set iff grid(cx+1,cy) > grid(cx,cy). All
    * arithmetic is exact integer — no float resampling — so the DuckDB
    * oracle re-derives hashes bit-for-bit from the same pixel values.
    * None for frames smaller than the grid. A flat channel scale (PPM
    * maxval < 255) cannot flip a strict luma ORDER comparison, so raw
    * bytes are hashed as-is.
    */
  def dHash64(w: Int, h: Int, rgb: Array[Byte]): Option[Long] = {
    if (w < DHashGridW || h < DHashGridH) return None
    val grid = new Array[Long](DHashGridW * DHashGridH)
    var cy = 0
    while (cy < DHashGridH) {
      val y0 = cy * h / DHashGridH
      val y1 = (cy + 1) * h / DHashGridH
      var cx = 0
      while (cx < DHashGridW) {
        val x0 = cx * w / DHashGridW
        val x1 = (cx + 1) * w / DHashGridW
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = 3 * (y * w + x)
            sum += (299 * (rgb(p) & 0xff) + 587 * (rgb(p + 1) & 0xff) +
              114 * (rgb(p + 2) & 0xff)) / 1000
            x += 1
          }
          y += 1
        }
        grid(cy * DHashGridW + cx) = sum / ((y1 - y0).toLong * (x1 - x0))
        cx += 1
      }
      cy += 1
    }
    var bits = 0L
    var k = 0
    while (k < 64) {
      val gcy = k / 8
      val gcx = k % 8
      if (grid(gcy * DHashGridW + gcx + 1) > grid(gcy * DHashGridW + gcx))
        bits |= 1L << k
      k += 1
    }
    Some(bits)
  }

  /** Perceptual hash of every DECODABLE image asset — a distributed map
    * at the kernel SPI seam (same confinement rule as decode/resize).
    * Assets with no decodable ≥ 9×8 frame yield NO row: they are simply
    * not near-dup candidates, never hashed from fake pixels.
    */
  def perceptualHashes(assets: Dataset[Asset],
      k: MediaKernel): Dataset[PerceptualHash] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.flatMap { a =>
      k.rgbFrame(a).flatMap { case (w, h, rgb) => dHash64(w, h, rgb) }
        .map(PerceptualHash(a.asset_id, _))
    })
  }

  /** Planted 18×16 grayscale P6 corpus for the image-dedup gates: docs
    * with doc_id % 8 < 3 share a FAMILY seed (doc_id − doc_id % 8);
    * the rest are singletons. Pixel (x,y) is an exact integer formula
    * of (seed, k = y·18 + x), and family variants 1–2 additionally
    * shift the four pixels of ONE 2×2 downsample box (grid cell
    * (7,3)) — so family members differ in at most the 2 dHash bits
    * that compare that cell, and 4-band/16-bit Hamming LSH (lossless
    * to distance ≤ 3 by pigeonhole) must surface every planted pair.
    * The oracle re-derives every pixel, grid cell, hash bit, band and
    * popcount from the same closed-form arithmetic — bit-exact across
    * engines because everything is integer.
    */
  val PlantW = 18
  val PlantH = 16

  /** Minimal 24-bit BI_RGB BMP encode (bottom-up rows, 4-byte row
    * padding) — the second REAL container the planted corpus ships
    * in, so the dedup gates exercise the magic router and two genuine
    * decoders end-to-end, not just one. Round-trips through
    * [[BmpMediaKernel.decodeBmp]] pixel-exactly.
    */
  private[graft] def encodeBmp(w: Int, h: Int,
      rgb: Array[Byte]): Array[Byte] = {
    val rowBytes = (3 * w + 3) / 4 * 4
    val imgSize = rowBytes * h
    val out = java.nio.ByteBuffer.allocate(54 + imgSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(54 + imgSize)
      .putInt(0).putInt(54)
    out.putInt(40).putInt(w).putInt(h)
      .putShort(1).putShort(24)
      .putInt(0).putInt(imgSize).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    var y = h - 1
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val p = 3 * (y * w + x)
        out.put(rgb(p + 2)).put(rgb(p + 1)).put(rgb(p))
        x += 1
      }
      var pad = rowBytes - 3 * w
      while (pad > 0) { out.put(0.toByte); pad -= 1 }
      y -= 1
    }
    out.array()
  }

  def plantedImages(spark: SparkSession, sfDir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(col("doc_id")).as[Long].map { id =>
      val fam = if (id % 8 < 3) id - (id % 8) else id
      val seed = (fam * 2654435761L) % 1000000007L
      val variant = id - fam
      val px = new Array[Byte](3 * PlantW * PlantH)
      var y = 0
      while (y < PlantH) {
        var x = 0
        while (x < PlantW) {
          val k = y * PlantW + x
          val bump =
            if (variant > 0 && x >= 14 && x <= 15 && y >= 6 && y <= 7)
              variant * 64L
            else 0L
          // seed×(k+7) mod p decorrelates pixel walks ACROSS seeds (a
          // purely additive seed term left only ~117 distinct hashes
          // per 500 docs — wrap-pattern clustering — which overloads
          // the band buckets downstream)
          val v = (((seed * (k + 7L) + k.toLong * k * 97L) % 1000000007L
            + bump) % 256L).toByte
          val p = 3 * k
          px(p) = v; px(p + 1) = v; px(p + 2) = v
          x += 1
        }
        y += 1
      }
      // container diversity INSIDE families: variant 1 ships as BMP,
      // the rest as P6 — near-dups must be found ACROSS containers,
      // which only holds if both real decoders emit identical pixels
      // through the magic router (the oracle knows pixels, not
      // containers, so any decoder drift breaks the hash match)
      if (variant == 1L || (id % 8 >= 3 && id % 2 == 1))
        Asset(id, "image/bmp", 0L, encodeBmp(PlantW, PlantH, px))
      else {
        val header = s"P6 $PlantW $PlantH 255\n".getBytes("US-ASCII")
        Asset(id, "image/x-portable-pixmap",
          (header.length + px.length).toLong, header ++ px)
      }
    }
  }

  /** Near-dup image pairs over the planted corpus: REAL container
    * round-trip (encode P6 → magic-routed kernel decode → luma → dHash),
    * then the dedup_simhash banding shape — 4 × 16-bit chunks, pairs
    * collide on a chunk (finds ALL pairs at Hamming ≤ 3 by pigeonhole,
    * never all-pairs), exact popcount verify on survivors. The band
    * self-join runs on skinny (asset_id, chunk, cv, phash) rows; the
    * image bytes are dropped right after the hash map.
    */
  def perceptualDupPairs(s: SparkSession, d: String): DataFrame = {
    val hashes = perceptualHashes(plantedImages(s, d), DispatchMediaKernel)
      .toDF()
    val chunks = hashes.select(
      col("asset_id"), col("phash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("phash"), c * 16)
            .bitwiseAND(lit(0xFFFFL)).as("cv"))): _*)).as("cc"))
      .select(col("asset_id"), col("phash"),
        col("cc.chunk").as("chunk"), col("cc.cv").as("cv"))
    val a = chunks.select(col("asset_id").as("asset_a"),
      col("phash").as("ha"), col("chunk"), col("cv"))
    val b = chunks.select(col("asset_id").as("asset_b"),
      col("phash").as("hb"), col("chunk"), col("cv"))
    a.join(b, Seq("chunk", "cv"))
      .filter(col("asset_a") < col("asset_b"))
      .select(col("asset_a"), col("asset_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  // ---------------------------------------------------------------------
  // Audio near-dup: dHash's gradient-sign construction on the |x|
  // time-envelope of REAL sample decode (WAV PCM) — the acoustic
  // fingerprint's cheapest honest form (energy-contour signs; the
  // spectral-peak variants need an FFT this container set doesn't
  // justify). Same 64-bit hash ⇒ the SAME Hamming-band machinery as
  // images, completing near-dup dedup across all three media families.
  // ---------------------------------------------------------------------

  /** Envelope bins per fingerprint: 65 bins → 64 gradient bits. */
  val AudioBins = 65

  /** Planted samples per stream (2 per bin). */
  val AudioSamples = 130

  /** Gradient-sign bits of an envelope: bit k set iff
    * env(k+1) > env(k) — [[dHash64]]'s comparison on the time axis.
    */
  private def gradientBits(env: Array[Long]): Long = {
    var bits = 0L
    var k = 0
    while (k < env.length - 1) {
      if (env(k + 1) > env(k)) bits |= 1L << k
      k += 1
    }
    bits
  }

  /** 64-bit audio fingerprint of every sample-decodable asset;
    * payloads with no decodable waveform of ≥ AudioBins frames yield
    * NO row (the perceptualHashes contract on sound).
    */
  def audioFingerprints(assets: Dataset[Asset],
      k: MediaKernel): Dataset[PerceptualHash] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.flatMap { a =>
      k.audioEnvelope(a, AudioBins)
        .map(env => PerceptualHash(a.asset_id, gradientBits(env)))
    })
  }

  /** Planted 8-bit mono PCM corpus (8 kHz, AudioSamples frames) —
    * the image families on the time axis: sample byte
    * v(t) = ((seed·(t+7) + t²·97) mod p) mod 256, variants bump the
    * two samples of ONE envelope bin (bin 30, t ∈ {60, 61}) by
    * variant·64 — ≤ 2 fingerprint bits per variant. The kernel's
    * envelope is Σ|v−128|·256 per bin (monoInt's 16-bit rebase), an
    * exact integer the oracle restates.
    */
  def plantedAudio(spark: SparkSession, sfDir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(col("doc_id")).as[Long].map { id =>
      val fam = if (id % 8 < 3) id - (id % 8) else id
      val seed = (fam * 2654435761L) % 1000000007L
      val variant = id - fam
      val n = AudioSamples
      val out = java.nio.ByteBuffer.allocate(44 + n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
        .put("WAVE".getBytes("US-ASCII"))
      out.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(8000)
        .putShort(1).putShort(8)
      out.put("data".getBytes("US-ASCII")).putInt(n)
      var t = 0
      while (t < n) {
        val bump =
          if (variant > 0 && (t == 60 || t == 61)) variant * 64L else 0L
        out.put((((seed * (t + 7L) + t.toLong * t * 97L) % 1000000007L
          + bump) % 256L).toByte)
        t += 1
      }
      val bytes = out.array()
      Asset(id, "audio/wav", bytes.length.toLong, bytes)
    }
  }

  /** Planted FLAC corpus: the SAME deterministic PCM as
    * [[plantedAudio]] (signed 8-bit, v(t) − 128), Rice/fixed-predictor
    * ENCODED into real FLAC frames per asset at the kernel encoder's
    * defaults. Because FLAC is lossless, the fingerprints — and so the
    * dedup oracle — are IDENTICAL to the WAV corpus's: the gate passes
    * iff the frame decode recovers every sample bit-exactly (and the
    * decoder separately proves that against STREAMINFO's MD5).
    */
  def plantedFlacAudio(spark: SparkSession, sfDir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(col("doc_id")).as[Long].map { id =>
      val fam = if (id % 8 < 3) id - (id % 8) else id
      val seed = (fam * 2654435761L) % 1000000007L
      val variant = id - fam
      val n = AudioSamples
      val pcm = new Array[Int](n)
      var t = 0
      while (t < n) {
        val bump =
          if (variant > 0 && (t == 60 || t == 61)) variant * 64L else 0L
        pcm(t) = (((seed * (t + 7L) + t.toLong * t * 97L) % 1000000007L
          + bump) % 256L).toInt - 128
        t += 1
      }
      val bytes = FlacMediaKernel.encodeFlac(Array(pcm), 8000, 8)
      Asset(id, "audio/flac", bytes.length.toLong, bytes)
    }
  }

  /** Near-dup audio pairs — [[perceptualDupPairs]]' banding on the
    * acoustic fingerprints: 4 × 16-bit chunks, collide, popcount ≤ 3.
    */
  def audioDupPairs(s: SparkSession, d: String): DataFrame =
    audioDupPairsOf(audioFingerprints(plantedAudio(s, d),
      DispatchMediaKernel).toDF())

  /** The same near-dup banding over the COMPRESSED planted corpus:
    * fingerprints come off the FLAC frame decode (routed by magic
    * through the dispatch kernel), everything downstream is the one
    * shared Hamming-band machine.
    */
  def flacDupPairs(s: SparkSession, d: String): DataFrame =
    audioDupPairsOf(audioFingerprints(plantedFlacAudio(s, d),
      DispatchMediaKernel).toDF())

  private def audioDupPairsOf(hashes: DataFrame): DataFrame = {
    val chunks = bandEntries(hashes)
    val a = chunks.select(col("asset_id").as("asset_a"),
      col("phash").as("ha"), col("chunk"), col("cv"))
    val b = chunks.select(col("asset_id").as("asset_b"),
      col("phash").as("hb"), col("chunk"), col("cv"))
    a.join(b, Seq("chunk", "cv"))
      .filter(col("asset_a") < col("asset_b"))
      .select(col("asset_a"), col("asset_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  // ---------------------------------------------------------------------
  // Video near-dup: per-frame dHash over REAL frame decode (Y4M), then
  // aligned-frame Hamming banding — two videos are near-dups when
  // enough of their same-index sampled frames land within the image
  // dedup's Hamming radius. Never all-pairs: candidates must collide
  // on a (frame_idx, chunk, cv) band bucket first.
  // ---------------------------------------------------------------------

  /** One sampled frame's perceptual hash. */
  final case class FramePHash(asset_id: Long, frame_idx: Int, phash: Long)

  /** Per-frame dHash of every decodable video (or still — a still is
    * its one-frame video) — the distributed map at the kernel SPI
    * seam; frames smaller than the 9×8 grid yield no row.
    */
  def framePerceptualHashes(assets: Dataset[Asset], k: MediaKernel,
      every: Int = 1): Dataset[FramePHash] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.flatMap { a =>
      k.rgbFrames(a, every).flatMap { case (idx, w, h, rgb) =>
        dHash64(w, h, rgb).map(FramePHash(a.asset_id, idx, _))
      }
    })
  }

  /** Frames per planted video; matching ≥ [[VideoMinMatch]] aligned
    * frames at Hamming ≤ 3 makes a near-dup pair.
    */
  val PlantFrames = 4
  val VideoMinMatch = 2

  /** Planted Y4M (C420, neutral chroma) corpus for the video-dedup
    * gate — the [[plantedImages]] families extended with a frame
    * dimension: luma(f, x, y) adds a per-frame f·(k+131) term to the
    * image formula (decorrelating frames within a stream), variants
    * perturb the SAME 2×2 box on EVERY frame (≤ 2 dHash bits per
    * frame), and chroma planes sit at 128 so the full-range BT.601
    * decode reproduces the luma byte exactly — the closed form the
    * oracle re-derives.
    */
  def plantedVideos(spark: SparkSession, sfDir: String): Dataset[Asset] = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(col("doc_id")).as[Long].map { id =>
      val fam = if (id % 8 < 3) id - (id % 8) else id
      val seed = (fam * 2654435761L) % 1000000007L
      val variant = id - fam
      val header =
        s"YUV4MPEG2 W$PlantW H$PlantH F25:1 Ip A1:1 C420\n"
          .getBytes("US-ASCII")
      val frameHdr = "FRAME\n".getBytes("US-ASCII")
      val luma = PlantW * PlantH
      val chroma = (PlantW / 2) * (PlantH / 2)
      val buf = new java.io.ByteArrayOutputStream(
        header.length + PlantFrames * (frameHdr.length + luma + 2 * chroma))
      buf.write(header)
      var f = 0
      while (f < PlantFrames) {
        buf.write(frameHdr)
        var k = 0
        while (k < luma) {
          val x = k % PlantW; val y = k / PlantW
          val bump =
            if (variant > 0 && x >= 14 && x <= 15 && y >= 6 && y <= 7)
              variant * 64L
            else 0L
          val v = (((seed * (k + 7L) + k.toLong * k * 97L +
            f.toLong * (k + 131L)) % 1000000007L + bump) % 256L).toInt
          buf.write(v)
          k += 1
        }
        var c = 0
        while (c < 2 * chroma) { buf.write(128); c += 1 }
        f += 1
      }
      val bytes = buf.toByteArray
      Asset(id, "video/x-yuv4mpeg", bytes.length.toLong, bytes)
    }
  }

  /** Video near-dup pairs: per-frame hashes band on
    * (frame_idx, chunk, cv), colliding same-index frames verify with
    * exact popcount at ≤ 3, and a pair qualifies at ≥ VideoMinMatch
    * matched frames — output (asset_a, asset_b, n_frames_matched).
    */
  def videoDupPairs(s: SparkSession, d: String): DataFrame = {
    val hashes = framePerceptualHashes(plantedVideos(s, d),
      DispatchMediaKernel).toDF()
    val chunks = hashes.select(
      col("asset_id"), col("frame_idx"), col("phash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("phash"), c * 16)
            .bitwiseAND(lit(0xFFFFL)).as("cv"))): _*)).as("cc"))
      .select(col("asset_id"), col("frame_idx"), col("phash"),
        col("cc.chunk").as("chunk"), col("cc.cv").as("cv"))
    val a = chunks.select(col("asset_id").as("asset_a"),
      col("phash").as("ha"), col("frame_idx"), col("chunk"), col("cv"))
    val b = chunks.select(col("asset_id").as("asset_b"),
      col("phash").as("hb"), col("frame_idx"), col("chunk"), col("cv"))
    val frameMatches = a.join(b, Seq("frame_idx", "chunk", "cv"))
      .filter(col("asset_a") < col("asset_b"))
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 3)
      .select(col("asset_a"), col("asset_b"), col("frame_idx"))
      .distinct()
    frameMatches.groupBy(col("asset_a"), col("asset_b"))
      .agg(count(lit(1)).as("n_frames_matched"))
      .filter(col("n_frames_matched") >= VideoMinMatch)
  }

  // ---------------------------------------------------------------------
  // Persisted perceptual-hash index — the operational image-dedup shape
  // at 100 TB: history images are hashed ONCE and their band entries
  // persisted; each new wave bands against the index (and itself),
  // never re-decoding or re-pairing the history. Speaks the same
  // FoldProtocol dialect as every other index: ledgered folds,
  // tombstoned takedowns, compaction, fsck.
  // ---------------------------------------------------------------------

  private val PhashSchema =
    "asset_id BIGINT, phash BIGINT, chunk INT, cv BIGINT, bucket BIGINT"

  /** Band-entry buckets per index (the Retrieval.Buckets convention). */
  val PhashBuckets = 32

  private[graft] def phashProtocol(path: String) =
    new graft.index.FoldProtocol(path, "_phash_ledger")

  /** The audio near-dup oracle — sample algebra, envelope, gradient
    * bits, banding and popcount in closed-form integer SQL. Shared
    * VERBATIM by `multimodal_audio_dedup` (WAV) and
    * `multimodal_flac_dedup` (FLAC): both planted corpora carry the
    * same PCM, and lossless decode makes the fingerprint
    * container-independent.
    */
  private def audioDedupOracleSql: String =
    s"""WITH sd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 8 < 3 THEN doc_id % 8 ELSE 0 END AS var,
       |    ((CASE WHEN doc_id % 8 < 3 THEN doc_id - (doc_id % 8)
       |           ELSE doc_id END) * 2654435761) % 1000000007 AS seed
       |  FROM documents),
       |sm AS (
       |  SELECT doc_id, t,
       |    abs((((seed * (t+7) + t*t*97) % 1000000007)
       |        + CASE WHEN var > 0 AND t IN (60, 61)
       |               THEN var*64 ELSE 0 END) % 256 - 128) * 256 AS av
       |  FROM sd, range(0, $AudioSamples) tt(t)),
       |env AS (
       |  SELECT doc_id, (t * $AudioBins) // $AudioSamples AS bin,
       |    sum(av) AS e
       |  FROM sm GROUP BY doc_id, (t * $AudioBins) // $AudioSamples),
       |sigs AS (
       |  SELECT a.doc_id,
       |    bit_or(CASE WHEN b.e > a.e
       |           THEN (1::HUGEINT << a.bin)::UBIGINT
       |           ELSE 0::UBIGINT END) AS sig
       |  FROM env a JOIN env b
       |    ON b.doc_id = a.doc_id AND b.bin = a.bin + 1
       |  WHERE a.bin < ${AudioBins - 1}
       |  GROUP BY a.doc_id),
       |chunks AS (SELECT doc_id, sig, c, (sig >> (c*16)) & 65535 AS cv
       |           FROM sigs, range(0, 4) t(c))
       |SELECT DISTINCT a.doc_id AS asset_a, b.doc_id AS asset_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM chunks a JOIN chunks b
       |  ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin

  /** One (asset_id, phash) row → its 4 band entries with the bucket
    * partition key: bucket = pmod(xxhash64(chunk:cv), 32), so a
    * bounded query set's candidate read is a static PartitionFilter.
    */
  private def bandEntries(hashes: DataFrame): DataFrame =
    hashes.select(col("asset_id"), col("phash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("phash"), c * 16)
            .bitwiseAND(lit(0xFFFFL)).as("cv"))): _*)).as("cc"))
      .select(col("asset_id"), col("phash"),
        col("cc.chunk").as("chunk"), col("cc.cv").as("cv"),
        pmod(xxhash64(concat_ws(":", col("cc.chunk"), col("cc.cv"))),
          lit(PhashBuckets.toLong)).as("bucket"))

  private def stagePhashes(hashes: DataFrame, path: String,
      dir: String): Unit =
    FoldProtocol.writePartitioned(bandEntries(hashes), dir, "bucket")

  /** Build a fresh perceptual-hash index at `path` (seed sub-root). */
  def writePhashIndex(hashes: DataFrame, path: String): Unit =
    stagePhashes(hashes,
      path, s"${phashProtocol(path).dir("phashes")}/seed")

  /** Ledgered fold of a new image wave's hashes — exactly once under
    * replay, the appendToIvfBinaryIndex contract on band entries.
    */
  def appendToPhashIndex(hashes: DataFrame, path: String,
      batchId: Long): Boolean =
    phashProtocol(path).fold(batchId, Seq("phashes")) {
      stagePhashes(hashes, path,
        s"${phashProtocol(path).dir("phashes")}/b$batchId")
    }

  /** Ledgered image takedown — tombstones only, O(|ids|). */
  def deleteFromPhashIndex(ids: DataFrame, path: String,
      deleteId: Long): Boolean = {
    val p = phashProtocol(path)
    p.delete(deleteId) { p.stageTombstones(ids, "asset_id", deleteId) }
  }

  /** All committed band entries minus committed tombstones. */
  def indexPhashes(s: SparkSession, path: String): DataFrame =
    phashProtocol(path).readCommittedStripped(s, "phashes", "asset_id")(
      r => s.read.schema(PhashSchema).option("basePath", r).parquet(r))

  /** [[indexPhashes]] AS OF a ledger horizon — the shared list-time
    * dir/tombstone scoping, zero data cost. With this every persisted
    * index kind in the engine (BM25, phrase, trigram, word-positional,
    * float/PQ/binary ANN, perceptual-hash) serves ledger horizons.
    */
  def indexPhashesAsOf(s: SparkSession, path: String,
      asOf: Long): DataFrame =
    phashProtocol(path).readCommittedStrippedAsOf(s, "phashes",
      "asset_id", asOf)(
      r => s.read.schema(PhashSchema).option("basePath", r).parquet(r))

  /** Rewrite committed sub-roots into one `c<hw>` dir — the shared
    * compaction contract (served view in, tombstones purged, ledger
    * kept).
    */
  def compactPhashIndex(s: SparkSession, path: String): Unit = {
    val p = phashProtocol(path)
    p.withLease("compact-phash") {
      FoldProtocol.writePartitioned(indexPhashes(s, path),
        s"$path/.phashes.compacting/${p.compactDirName()}", "bucket")
      p.publishDir(".phashes.compacting", "phashes")
      p.clearTombstones()
    }
  }

  /** Floor-bounded retention for the perceptual-hash index — a
    * [[graft.index.FoldProtocol.vacuumKinds]] adapter on the band-
    * entry postings (the last ledgered family to join the vacuum
    * trio's kernel: base table, BM25, IVF, trigram, phrase, NEAR,
    * and now phash all reclaim history below a floor while horizons
    * at or above it keep serving exactly).
    */
  def vacuumPhashIndex(s: SparkSession, path: String,
      floorRequested: Long): Boolean =
    phashProtocol(path).vacuumKinds(s, floorRequested, Seq(
      "phashes" -> ((floor, staging) =>
        FoldProtocol.writePartitioned(indexPhashesAsOf(s, path, floor),
          staging, "bucket"))))

  /** The perceptual-hash index as the fixture layer sees it. */
  val PhashKind: IndexKind = IndexKind(phashProtocol, Nil, Seq("phashes"),
    write = writePhashIndex(_, _),
    fold = appendToPhashIndex(_, _, _),
    delete = deleteFromPhashIndex(_, _, _),
    vacuum = vacuumPhashIndex(_, _, _),
    merge = mergePhashIndexes(_, _, _, _))

  /** Perceptual hashes of the planted images whose asset_id passes
    * `pred`, through the real decode.
    */
  private def hashesOf(s: SparkSession, d: String,
      pred: Column => Column): DataFrame =
    perceptualHashes(plantedImages(s, d).filter(pred(col("asset_id"))),
      DispatchMediaKernel).toDF()

  /** The three-commit phash lifecycle: history wave (asset_id % 5 ≠ 4)
    * seeded, late wave folded as b1, takedown of asset_id % 7 = 3 as
    * d2.
    */
  private def phashLifecycle(s: SparkSession, d: String): Seq[Step] =
    Seq(Seed(hashesOf(s, d, _ % 5 =!= 4)),
      Fold(1L, hashesOf(s, d, _ % 5 === 4)),
      Delete(2L, plantedImages(s, d).filter(col("asset_id") % 7 === 3)
        .select(col("asset_id"))))

  /** Build-if-absent the VACUUMED phash gate fixture: the lifecycle
    * vacuumed at floor 1.
    */
  def ensureVacuumedPhashIndex(s: SparkSession, d: String): String =
    Fixture("graft_phash_vacuum", PhashKind,
      phashLifecycle(s, d) :+ Vacuum(1L)).ensure(s, d)

  /** Build-if-absent the AS-OF phash gate fixture: the vacuum gate's
    * three-commit lifecycle with its FULL per-commit history retained
    * — so horizon 0 (pre-fold) is servable too, which the vacuumed
    * root by design cannot.
    */
  def ensureAsOfPhashIndex(s: SparkSession, d: String): String =
    Fixture("graft_phash_asof", PhashKind, phashLifecycle(s, d)).ensure(s, d)

  /** Incremental image dedup — the `Dedup.incrementalKeepNew` contract
    * on perceptual hashes: an incoming image SURVIVES iff no image
    * with a smaller asset_id (indexed history OR earlier in the
    * incoming wave) sits within Hamming ≤ 3 of it. Candidates come
    * from band collisions against the index ∪ the wave itself (never
    * all-pairs); the popcount verify runs on collisions only. The
    * history is never re-decoded, re-hashed or re-paired.
    */
  def phashKeepNew(s: SparkSession, indexPath: String,
      incoming: DataFrame, asOf: Option[Long] = None): DataFrame = {
    val inc = bandEntries(incoming.select(col("asset_id"), col("phash")))
    val partners = asOf.fold(indexPhashes(s, indexPath))(h =>
      indexPhashesAsOf(s, indexPath, h))
      .select(col("asset_id"), col("phash"), col("chunk"), col("cv"))
      .unionByName(inc.select(col("asset_id"), col("phash"),
        col("chunk"), col("cv")))
    val rejected = inc.alias("i")
      .join(partners.alias("p"),
        col("i.chunk") === col("p.chunk") && col("i.cv") === col("p.cv")
          && col("p.asset_id") < col("i.asset_id"))
      .filter(bit_count(col("i.phash").bitwiseXOR(col("p.phash"))) <= 3)
      .select(col("i.asset_id").as("asset_id"))
      .distinct()
    incoming.select(col("asset_id"), col("phash"))
      .join(rejected, Seq("asset_id"), "left_anti")
  }

  /** Perceptual-hash SEARCH from the persisted index — the retrieval
    * twin of [[phashKeepNew]]: every indexed asset within Hamming ≤
    * `radius` of each probe hash (self-matches included — a search
    * legitimately returns the identical asset). Candidates come from
    * band collisions (lossless for radius ≤ 3 by pigeonhole over the
    * 4 × 16-bit chunks); the popcount verify runs on collisions only.
    * The probes' band BUCKETS are collected driver-side as the
    * candidate read's static PartitionFilter — a bounded pushdown: ≤
    * [[PhashBuckets]] distinct values by construction, and a
    * point/batch query touches ≤ 4·|probes| of the 32, which is the
    * whole point of the bucket layout at reverse-image-search scale.
    */
  def phashSearch(s: SparkSession, indexPath: String, probes: DataFrame,
      radius: Int = 3, asOf: Option[Long] = None): DataFrame = {
    require(radius <= 3,
      "band candidates are lossless only to radius 3; larger radii " +
        "need a wider band split")
    val pb = bandEntries(probes.select(
        col("query_id").as("asset_id"), col("phash")))
      .select(col("asset_id").as("query_id"), col("phash").as("qhash"),
        col("chunk"), col("cv"), col("bucket"))
    val buckets = pb.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)) // ≤ PhashBuckets = 32 rows
    val idx = asOf.fold(indexPhashes(s, indexPath))(h =>
        indexPhashesAsOf(s, indexPath, h))
      .filter(col("bucket").isin(buckets.toSeq: _*))
      .select(col("asset_id"), col("phash"), col("chunk"), col("cv"))
    pb.drop("bucket").join(idx, Seq("chunk", "cv"))
      .filter(bit_count(col("qhash").bitwiseXOR(col("phash"))) <= radius)
      .select(col("query_id"), col("asset_id"),
        bit_count(col("qhash").bitwiseXOR(col("phash"))).cast("long")
          .as("hamming"))
      .distinct()
  }

  /** Build-if-absent the incremental gate's HISTORY index: the planted
    * corpus' asset_id % 5 ≠ 4 wave hashed through the real decode and
    * seeded.
    */
  def ensureIncrementalPhashIndex(s: SparkSession, d: String): String =
    Fixture("graft_phash_index", PhashKind,
      Seq(Seed(hashesOf(s, d, _ % 5 =!= 4)))).ensure(s, d)

  /** Merge two independently-built perceptual-hash roots into ONE
    * servable root — the FOURTH index kind speaking the cross-root
    * union (BM25, trigram and float IVF are the others). Band entries
    * are globally bucketed (bucket = pmod(xxhash64(chunk:cv), 32)), so
    * both roots already agree on every entry's bucket and the merge is
    * two partitioned copies: the primary's committed
    * (tombstone-stripped) entries as `seed/`, the secondary's as
    * ledgered fold `b0` with a `merged-from=` provenance line. The
    * probe-bucket static prune pushes into both branches of the merged
    * union unchanged; disjoint asset spaces ⇒ serve ≡ a from-scratch
    * build over the union wave.
    */
  def mergePhashIndexes(s: SparkSession, primary: String,
      secondary: String, dest: String): Unit = {
    val p = phashProtocol(dest)
    def copySide(src: String, sub: String): Unit =
      FoldProtocol.writePartitioned(indexPhashes(s, src),
        s"${p.dir("phashes")}/$sub", "bucket")
    copySide(primary, "seed")
    copySide(secondary, "b0")
    p.commitStaged(Seq("phashes/b0"), "0", "merged-from=" +
      s"${new org.apache.hadoop.fs.Path(primary).getName}+" +
      new org.apache.hadoop.fs.Path(secondary).getName)
  }

  /** Build-if-absent the merged-phash gate fixture: the search gate's
    * history wave (asset_id % 5 ≠ 4) split into two independently
    * hashed-and-indexed crawls (% 3 ≠ 2 primary, % 3 = 2 secondary),
    * merged — the union IS the history wave, so the merged serve
    * reuses `multimodal_phash_search`'s oracle verbatim.
    */
  def ensureMergedPhashIndex(s: SparkSession, d: String): String =
    Fixture("graft_phash_merged", PhashKind, Seq(Merge(
      Fixture("graft_phash_src_a", PhashKind,
        Seq(Seed(hashesOf(s, d, id => id % 5 =!= 4 && id % 3 =!= 2)))),
      Fixture("graft_phash_src_b", PhashKind,
        Seq(Seed(hashesOf(s, d, id => id % 5 =!= 4 && id % 3 === 2)))))))
      .ensure(s, d)

  /** Oracle CTE chain shared by the image-dedup and phash-search
    * gates: closed-form pixel values → 2×2 box averages → gradient
    * bits → band chunks, mirroring [[plantedImages]] + [[dHash64]]
    * integer-exactly (luma of a gray pixel (v,v,v) is
    * (299+587+114)·v/1000 = v, so the SQL skips the no-op).
    */
  private def phashChunksCte: String =
    s"""WITH RECURSIVE sd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 8 < 3 THEN doc_id % 8 ELSE 0 END AS var,
       |    ((CASE WHEN doc_id % 8 < 3 THEN doc_id - (doc_id % 8)
       |           ELSE doc_id END) * 2654435761) % 1000000007 AS seed
       |  FROM documents),
       |px AS (
       |  SELECT doc_id, x, y,
       |    ((seed * (y*$PlantW+x+7) + (y*$PlantW+x)*(y*$PlantW+x)*97)
       |       % 1000000007
       |      + CASE WHEN var > 0 AND x BETWEEN 14 AND 15
       |                  AND y BETWEEN 6 AND 7
       |             THEN var*64 ELSE 0 END) % 256 AS v
       |  FROM sd, range(0, $PlantW) tx(x), range(0, $PlantH) ty(y)),
       |g AS (
       |  SELECT doc_id, x // 2 AS cx, y // 2 AS cy, sum(v) // 4 AS gv
       |  FROM px GROUP BY doc_id, x // 2, y // 2),
       |sigs AS (
       |  SELECT a.doc_id,
       |    bit_or(CASE WHEN b.gv > a.gv
       |           THEN (1::HUGEINT << (a.cy*8 + a.cx))::UBIGINT
       |           ELSE 0::UBIGINT END) AS sig
       |  FROM g a JOIN g b
       |    ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
       |  WHERE a.cx < 8
       |  GROUP BY a.doc_id),
       |chunks AS (SELECT doc_id, sig, c, (sig >> (c*16)) & 65535 AS cv
       |           FROM sigs, range(0, 4) t(c))""".stripMargin

  /** [[phashChunksCte]] extended with the dedup gates' verified-pairs
    * CTE (smaller-vs-larger id, radius 3).
    */
  private def phashPairsCte: String =
    s"""$phashChunksCte,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS asset_a, b.doc_id AS asset_b,
       |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |  FROM chunks a JOIN chunks b
       |    ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= 3)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // Metadata-only scan: must prune the blob column (verified by plan
    // inspection in MultimodalSpec). Oracle reproduces the byte length and
    // content hash from the text payload.
    QuerySpec(
      "multimodal_meta",
      """SELECT doc_id AS asset_id,
        | CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |      WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |      ELSE 'video/mp4' END AS mime,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS content_hash
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id").as("asset_id"),
        when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("mime"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        md5(col("text")).as("content_hash"))
    },

    // Full decode pipeline: binary → batched stub decode → feature stats.
    // The stub's arithmetic is engine-portable, so the oracle recomputes
    // the content hash (list_reduce fold), the width/height derivation,
    // and the float-rounded feature sum term by term.
    QuerySpec(
      "multimodal_features",
      s"""WITH h AS (SELECT doc_id AS asset_id, ${foldHashSql("text")} AS h FROM documents)
         |SELECT asset_id,
         |  CAST(1 + h % 1024 AS BIGINT) AS width,
         |  CAST(1 + (h // 1024) % 1024 AS BIGINT) AS height,
         |  round(${(0 until FeatureDim).map(i =>
             s"CAST(CAST(((h * 2654435761 + $i * 40503) % 1000003) AS DOUBLE)" +
               " / 1000003.0 AS FLOAT)::DOUBLE").mkString(" + ")}, 4)
         |    AS feature_sum
         |FROM h""".stripMargin) { (s, d) =>
      val feats: DataFrame = extractFeatures(assets(s, d)).toDF()
      feats.select(
        col("asset_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        round(aggregate(transform(col("features"), x => x.cast("double")),
          lit(0.0), (acc, v) => acc + v), 4).as("feature_sum"))
    },

    // Batched stub resize: per-asset thumbnail metadata. The stub tiles
    // the payload to w×h bytes, which SQL reproduces with repeat+substr;
    // md5 hex is identical across engines.
    QuerySpec(
      "multimodal_resize",
      s"""SELECT doc_id AS asset_id,
         |  CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
         |  CAST(256 AS BIGINT) AS thumb_bytes,
         |  CASE WHEN length(text) = 0 THEN '$ZeroThumbMd5'
         |       ELSE md5(substr(repeat(text, CAST(ceil(256.0 / length(text)) AS INT)),
         |                 1, 256)) END AS thumb_hash
         |FROM documents""".stripMargin) { (s, d) =>
      resizeAssets(assets(s, d), 16, 16).toDF()
        .select(col("asset_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          length(col("thumb")).cast("long").as("thumb_bytes"),
          md5(col("thumb")).as("thumb_hash"))
    },

    // Frame sampling: 1→N explosion, every 2nd fixed-size frame. Chunking
    // is substr arithmetic and the frame hash is the portable fold.
    QuerySpec(
      "multimodal_frames",
      s"""WITH c0 AS (SELECT doc_id, text,
         |    unnest(range(0, CAST(ceil(length(text) / $FrameBytes.0) AS BIGINT))) AS c
         |  FROM documents),
         |c AS (SELECT doc_id AS asset_id, c AS frame_idx,
         |    substr(text, CAST(c * $FrameBytes + 1 AS INT), $FrameBytes) AS chunk
         |  FROM c0 WHERE c % 2 = 0)
         |SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         |  CAST(length(chunk) AS BIGINT) AS n_bytes,
         |  ${foldHashSql("chunk")} AS frame_hash
         |FROM c""".stripMargin) { (s, d) =>
      sampleFrames(assets(s, d), every = 2).toDF()
        .select(col("asset_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("n_bytes"), col("frame_hash"))
    },

    // Perceptual image near-dup pairs: planted P6 corpus → real
    // magic-routed decode → dHash → Hamming-banded LSH → popcount
    // verify. The oracle recomputes every pixel, grid cell, hash bit,
    // band bucket and popcount in closed-form integer SQL — a
    // value-level cross-check of the whole encode/decode/hash/band
    // path.
    QuerySpec(
      "multimodal_dedup",
      s"""$phashPairsCte
         |SELECT asset_a, asset_b, hamming FROM pairs""".stripMargin) {
      (s, d) => perceptualDupPairs(s, d)
    },

    // Transitive closure of the near-dup pairs: every matched image
    // gets cluster_id = min reachable asset_id (the canonical survivor),
    // via the same iterative min-label + pointer-jumping components the
    // text dedup uses. The oracle walks reachability with a recursive
    // CTE over the pair set it just re-derived.
    QuerySpec(
      "multimodal_dedup_cluster",
      s"""$phashPairsCte,
         |edges AS (SELECT asset_a AS u, asset_b AS v FROM pairs
         |          UNION ALL SELECT asset_b, asset_a FROM pairs),
         |reach(u, r) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
         |SELECT u AS asset_id, CAST(min(r) AS BIGINT) AS cluster_id,
         |  CAST(CASE WHEN u = min(r) THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM reach GROUP BY u""".stripMargin) { (s, d) =>
      val pairs = perceptualDupPairs(s, d)
        .select(col("asset_a").as("doc_a"), col("asset_b").as("doc_b"))
      Dedup.connectedComponents(pairs)
        .select(col("doc_id").as("asset_id"), col("cluster_id"),
          when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L)
            .as("keep"))
    },

    // Incremental image dedup against the PERSISTED perceptual-hash
    // index — the Dedup.incrementalKeepNew contract on pixels: the
    // history wave is hashed once and indexed; the incoming wave
    // bands against the index (and itself) and an incoming image
    // survives iff no smaller-id image sits within Hamming ≤ 3. The
    // oracle rebuilds the full-corpus banding from the closed-form
    // pixel arithmetic and bars every incoming image that is the
    // greater id of a verified pair — incremental ingestion must
    // converge to exactly what a full re-dedup would keep.
    QuerySpec(
      "multimodal_dedup_incremental",
      s"""$phashPairsCte
         |SELECT s.doc_id AS asset_id,
         |  CAST(CASE WHEN s.sig >= 9223372036854775808::UBIGINT
         |       THEN CAST(s.sig AS HUGEINT) - 18446744073709551616::HUGEINT
         |       ELSE CAST(s.sig AS HUGEINT) END AS BIGINT) AS phash
         |FROM sigs s
         |WHERE s.doc_id % 5 = 4
         |  AND s.doc_id NOT IN (SELECT asset_b FROM pairs
         |                       WHERE asset_b % 5 = 4)""".stripMargin) {
      (s, d) =>
      val idx = ensureIncrementalPhashIndex(s, d)
      val incoming = perceptualHashes(
        plantedImages(s, d).filter(col("asset_id") % 5 === 4),
        DispatchMediaKernel).toDF()
      phashKeepNew(s, idx, incoming)
    },

    // Reverse-image SEARCH from the persisted perceptual-hash index —
    // the retrieval twin of the dedup serve (same bands, same
    // popcount verify, probe-bucket static prune): every indexed
    // asset within Hamming ≤ 3 of each probe, self-matches included.
    // Probes are the variant-1 family members; the index is the
    // incremental gate's history wave. The oracle re-derives both
    // sides' hashes in closed form and joins chunks a (probes) ×
    // chunks b (history) with no id ordering — search is directed,
    // unlike dedup's a < b pairs.
    QuerySpec(
      "multimodal_phash_search",
      s"""$phashChunksCte
         |SELECT DISTINCT a.doc_id AS query_id, b.doc_id AS asset_id,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM chunks a JOIN chunks b
         |  ON a.c = b.c AND a.cv = b.cv
         |WHERE a.doc_id % 8 = 1 AND b.doc_id % 5 <> 4
         |  AND bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin) {
      (s, d) =>
      val idx = ensureIncrementalPhashIndex(s, d)
      val probes = perceptualHashes(
        plantedImages(s, d).filter(col("asset_id") % 8 === 1),
        DispatchMediaKernel).toDF()
        .select(col("asset_id").as("query_id"), col("phash"))
      phashSearch(s, idx, probes)
    },

    // Cross-root phash MERGE under the value gate — the FOURTH index
    // kind speaking the union: the search gate's history wave split
    // into two independently hashed-and-indexed crawls, band-aligned
    // copies as seed + ledgered fold b0. The union IS the history
    // wave, so this reuses multimodal_phash_search's oracle verbatim —
    // the merge changes cost, not one row.
    QuerySpec(
      "multimodal_phash_merged",
      s"""$phashChunksCte
         |SELECT DISTINCT a.doc_id AS query_id, b.doc_id AS asset_id,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM chunks a JOIN chunks b
         |  ON a.c = b.c AND a.cv = b.cv
         |WHERE a.doc_id % 8 = 1 AND b.doc_id % 5 <> 4
         |  AND bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin) {
      (s, d) =>
      val idx = ensureMergedPhashIndex(s, d)
      val probes = perceptualHashes(
        plantedImages(s, d).filter(col("asset_id") % 8 === 1),
        DispatchMediaKernel).toDF()
        .select(col("asset_id").as("query_id"), col("phash"))
      phashSearch(s, idx, probes)
    },

    // Floor-bounded retention on the phash root — the seventh (and
    // last) ledgered family on the vacuumKinds kernel: the full
    // lifecycle (history seed, late-wave fold, takedown) vacuumed at
    // floor 1, served at the surviving horizons. Horizon 1 = the
    // whole corpus indexed, horizon 2 = post-takedown — both
    // hash-equal to the unvacuumed construction (the closed-form
    // chunk oracle with per-horizon candidate restrictions).
    QuerySpec(
      "multimodal_phash_vacuum",
      s"""$phashChunksCte
         |SELECT CAST(1 AS BIGINT) AS horizon, query_id, asset_id, hamming
         |FROM (
         |  SELECT DISTINCT a.doc_id AS query_id, b.doc_id AS asset_id,
         |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.cv = b.cv
         |  WHERE a.doc_id % 8 = 1
         |    AND bit_count(xor(a.sig, b.sig)) <= 3)
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS horizon, query_id, asset_id, hamming
         |FROM (
         |  SELECT DISTINCT a.doc_id AS query_id, b.doc_id AS asset_id,
         |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.cv = b.cv
         |  WHERE a.doc_id % 8 = 1 AND b.doc_id % 7 <> 3
         |    AND bit_count(xor(a.sig, b.sig)) <= 3)""".stripMargin) {
      (s, d) =>
      val idx = ensureVacuumedPhashIndex(s, d)
      val probes = perceptualHashes(
        plantedImages(s, d).filter(col("asset_id") % 8 === 1),
        DispatchMediaKernel).toDF()
        .select(col("asset_id").as("query_id"), col("phash"))
      Par.buildAll(Seq(1L, 2L)) { h =>
        phashSearch(s, idx, probes, asOf = Some(h))
          .select(lit(h).as("horizon"), col("query_id"),
            col("asset_id"), col("hamming"))
      }.reduce(_.union(_))
    },

    // AS-OF reverse-image search on the UNVACUUMED root — the last
    // index family's time-travel value gate at FULL history depth:
    // horizon 0 serves the history wave alone (the late fold
    // invisible), 1 the whole corpus, 2 post-takedown — dir/tombstone
    // scoping at list time, zero data cost, the same serve plan per
    // horizon. (The vacuum gate covers surviving horizons only; this
    // root keeps every commit, so pre-fold history stays servable.)
    QuerySpec(
      "multimodal_phash_asof",
      s"""$phashChunksCte
         |SELECT CAST(0 AS BIGINT) AS horizon, query_id, asset_id, hamming
         |FROM (
         |  SELECT DISTINCT a.doc_id AS query_id, b.doc_id AS asset_id,
         |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.cv = b.cv
         |  WHERE a.doc_id % 8 = 1 AND b.doc_id % 5 <> 4
         |    AND bit_count(xor(a.sig, b.sig)) <= 3)
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS horizon, query_id, asset_id, hamming
         |FROM (
         |  SELECT DISTINCT a.doc_id AS query_id, b.doc_id AS asset_id,
         |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.cv = b.cv
         |  WHERE a.doc_id % 8 = 1
         |    AND bit_count(xor(a.sig, b.sig)) <= 3)
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS horizon, query_id, asset_id, hamming
         |FROM (
         |  SELECT DISTINCT a.doc_id AS query_id, b.doc_id AS asset_id,
         |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.cv = b.cv
         |  WHERE a.doc_id % 8 = 1 AND b.doc_id % 7 <> 3
         |    AND bit_count(xor(a.sig, b.sig)) <= 3)""".stripMargin) {
      (s, d) =>
      val idx = ensureAsOfPhashIndex(s, d)
      val probes = perceptualHashes(
        plantedImages(s, d).filter(col("asset_id") % 8 === 1),
        DispatchMediaKernel).toDF()
        .select(col("asset_id").as("query_id"), col("phash"))
      Par.buildAll(Seq(0L, 1L, 2L)) { h =>
        phashSearch(s, idx, probes, asOf = Some(h))
          .select(lit(h).as("horizon"), col("query_id"),
            col("asset_id"), col("hamming"))
      }.reduce(_.union(_))
    },

    // Video near-dup pairs: planted Y4M streams (C420, neutral
    // chroma) through the REAL frame decode (header walk, per-frame
    // plane offsets, fixed-point BT.601) → per-frame dHash →
    // aligned-frame Hamming banding → matched-frame count. The oracle
    // re-derives every frame's luma, grid, hash bit, band bucket,
    // per-frame popcount and the ≥ VideoMinMatch threshold in
    // closed-form integer SQL.
    // Audio near-dup pairs: planted PCM streams through the REAL
    // sample decode (RIFF chunk walk, monoInt rebase) → |x| envelope →
    // gradient-sign fingerprint → the image-dedup banding. The oracle
    // re-derives every sample, bin sum, gradient bit, band bucket and
    // popcount in closed-form integer SQL.
    QuerySpec("multimodal_audio_dedup", audioDedupOracleSql) {
      (s, d) => audioDupPairs(s, d)
    },

    // The SAME near-dup contract on the COMPRESSED container: the
    // planted corpus carries identical PCM, Rice/fixed-predictor
    // encoded into real FLAC frames, and the serve fingerprints off
    // the kernel's full lossless frame decode. The oracle is the WAV
    // gate's VERBATIM — lossless means the closed-form sample algebra
    // is container-independent — so a single decoder bit error
    // anywhere (header walk, Rice, predictor, decorrelation) breaks
    // parity.
    QuerySpec("multimodal_flac_dedup", audioDedupOracleSql) {
      (s, d) => flacDupPairs(s, d)
    },

    QuerySpec(
      "multimodal_video_dedup",
      s"""WITH sd AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 8 < 3 THEN doc_id % 8 ELSE 0 END AS var,
         |    ((CASE WHEN doc_id % 8 < 3 THEN doc_id - (doc_id % 8)
         |           ELSE doc_id END) * 2654435761) % 1000000007 AS seed
         |  FROM documents),
         |px AS (
         |  SELECT doc_id, f, x, y,
         |    ((seed * (y*$PlantW+x+7) + (y*$PlantW+x)*(y*$PlantW+x)*97
         |        + f*((y*$PlantW+x)+131)) % 1000000007
         |      + CASE WHEN var > 0 AND x BETWEEN 14 AND 15
         |                  AND y BETWEEN 6 AND 7
         |             THEN var*64 ELSE 0 END) % 256 AS v
         |  FROM sd, range(0, $PlantFrames) tf(f),
         |       range(0, $PlantW) tx(x), range(0, $PlantH) ty(y)),
         |g AS (
         |  SELECT doc_id, f, x // 2 AS cx, y // 2 AS cy, sum(v) // 4 AS gv
         |  FROM px GROUP BY doc_id, f, x // 2, y // 2),
         |sigs AS (
         |  SELECT a.doc_id, a.f,
         |    bit_or(CASE WHEN b.gv > a.gv
         |           THEN (1::HUGEINT << (a.cy*8 + a.cx))::UBIGINT
         |           ELSE 0::UBIGINT END) AS sig
         |  FROM g a JOIN g b
         |    ON b.doc_id = a.doc_id AND b.f = a.f AND b.cy = a.cy
         |      AND b.cx = a.cx + 1
         |  WHERE a.cx < 8
         |  GROUP BY a.doc_id, a.f),
         |chunks AS (SELECT doc_id, f, sig, c, (sig >> (c*16)) & 65535 AS cv
         |           FROM sigs, range(0, 4) t(c)),
         |fm AS (
         |  SELECT DISTINCT a.doc_id AS asset_a, b.doc_id AS asset_b, a.f
         |  FROM chunks a JOIN chunks b
         |    ON a.f = b.f AND a.c = b.c AND a.cv = b.cv
         |      AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= 3)
         |SELECT asset_a, asset_b,
         |  CAST(count(*) AS BIGINT) AS n_frames_matched
         |FROM fm GROUP BY asset_a, asset_b
         |HAVING count(*) >= $VideoMinMatch""".stripMargin) {
      (s, d) => videoDupPairs(s, d)
    }
  )

  /** SQL form of [[byteHash]] over a named string column (documents are
    * pure ASCII, so `ascii(substr(...))` equals the byte value). `def`s so
    * `specs` (initialized above) can reference them at object init.
    */
  private def foldHashSql(column: String): String =
    "list_reduce(list_prepend(0::BIGINT, list_transform(" +
      s"range(1, length($column) + 1), i -> ascii(substr($column, i, 1))::BIGINT))," +
      " (a, b) -> (a * 31 + b) % 1000000007)"

  /** md5 of 256 zero bytes — the resize stub's thumb for an empty payload
    * (SQL can't build a NUL-byte string portably, so the oracle inlines
    * the digest).
    */
  private def ZeroThumbMd5: String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(new Array[Byte](256)).map("%02x".format(_)).mkString
}
