package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque binary payloads with
  * typed metadata, plus decode / feature-extraction / resize /
  * frame-sampling stages.
  *
  * Decode is REAL for uncompressed container formats — WAV (RIFF chunk
  * walk) and BMP (24bpp DIB) are pure byte arithmetic, so
  * [[parseWav]]/[[parseBmp]] extract true sample rates, durations and
  * dimensions, and [[resizeBmp]] performs an actual pixel
  * (nearest-neighbor) resample with re-encode — no codec library
  * involved, spec'd against round-tripped encoders. COMPRESSED codecs
  * (jpeg/mp3/h264) do not exist in this environment; for those the
  * feature stage uses the clearly-marked deterministic stand-in
  * `fakeDecode` (a byte histogram). Swapping in a real compressed
  * codec changes only that one pure function; every plan shape,
  * schema and partitioning property stays identical.
  *
  * At 100 TB: payloads stay in parquet binary columns co-partitioned
  * with their metadata; decode runs as a narrow mapPartitions (no
  * shuffle), so feature extraction scales linearly with executors and
  * the expensive stage can be checkpointed to its own table.
  */
object Multimodal {

  final case class MediaRow(
      doc_id: Long, payload: Array[Byte], kind: String,
      width: Int, height: Int, duration_ms: Long)

  final case class FeatureRow(doc_id: Long, kind: String, features: Array[Float])

  final case class FrameRow(doc_id: Long, frame_idx: Int, offset_ms: Long)

  /** Wrap a text corpus as fake media rows: payload = utf8 bytes,
    * metadata derived deterministically from the content hash. */
  def asMedia(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(hash(col("doc_id")), lit(3)) + 1).cast("int")).as("kind"),
        (pmod(hash(col("doc_id"), lit("w")), lit(1920)) + 1).cast("int").as("width"),
        (pmod(hash(col("doc_id"), lit("h")), lit(1080)) + 1).cast("int").as("height"),
        (pmod(hash(col("doc_id"), lit("d")), lit(60000)) + 1000).cast("long").as("duration_ms"))
      .as[MediaRow]
  }

  /** DETERMINISTIC FAKE decoder: an 8-bucket byte histogram, L1
    * normalized. Stands in for image/audio decode + embedding. */
  private[operators] def fakeDecode(payload: Array[Byte], dim: Int = 8): Array[Float] = {
    val counts = new Array[Float](dim)
    var i = 0
    while (i < payload.length) {
      counts(((payload(i) & 0xff) * dim) / 256) += 1f
      i += 1
    }
    val total = math.max(1, payload.length).toFloat
    counts.map(_ / total)
  }

  /** Feature extraction as a partition-wise batch stage — the shape a
    * real codec UDF runs in (one codec init per partition, rows
    * streamed through it). */
  def decodeFeatures(media: Dataset[MediaRow], dim: Int = 8): Dataset[FeatureRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      // codec init would happen here, once per partition
      rows.map(r => FeatureRow(r.doc_id, r.kind, fakeDecode(r.payload, dim)))
    }
  }

  /** Frame sampling: one row per sampled frame from the duration
    * metadata — a generator (UDTF-shaped) stage, no payload decode. */
  def sampleFrames(media: Dataset[MediaRow], everyMs: Long = 5000L): Dataset[FrameRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video").as[MediaRow]
      .flatMap { r =>
        val n = (r.duration_ms / everyMs).toInt + 1
        (0 until n).map(i => FrameRow(r.doc_id, i, i * everyMs))
      }
  }

  /** Resize: pure metadata transform capping the longest edge —
    * payload untouched (the payload-touching form is [[resizeBmp]]). */
  def resizeMeta(media: Dataset[MediaRow], maxDim: Int): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map { r =>
      val scale = math.min(1.0, maxDim.toDouble / math.max(r.width, r.height))
      r.copy(width = math.max(1, (r.width * scale).toInt),
        height = math.max(1, (r.height * scale).toInt))
    }
  }

  // ---- Real uncompressed codecs (pure byte arithmetic) -----------------

  final case class WavMeta(doc_id: Long, sample_rate: Int, channels: Int,
      bits: Int, n_samples: Long, duration_ms: Long)

  final case class BmpMeta(doc_id: Long, width: Int, height: Int, bpp: Int)

  private def leU16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  private def leU32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def putLeU16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
  }

  private def putLeU32(b: Array[Byte], o: Int, v: Long): Unit = {
    var i = 0
    while (i < 4) { b(o + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
  }

  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  /** REAL WAV decode: walk the RIFF chunk list, read the fmt chunk's
    * (channels, sample rate, bits) and the data chunk's size. Returns
    * None for anything that is not a well-formed RIFF/WAVE payload —
    * corrupt media routes to a reject sink instead of failing the job. */
  def parseWav(payload: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (payload.length < 44 || tag(payload, 0) != "RIFF" || tag(payload, 8) != "WAVE")
      return None
    var off = 12L
    var rate = -1; var channels = -1; var bits = -1; var dataSize = -1L
    while (off + 8 <= payload.length) {
      val o = off.toInt
      val id = tag(payload, o)
      val size = leU32(payload, o + 4)
      // A declared chunk size that cannot fit in the payload marks the
      // payload corrupt — advancing by it would loop forever or walk
      // off the array, so bail to None (the reject-sink contract).
      if (size < 0 || off + 8 + size > payload.length) return None
      // the fmt chunk's own declared size must cover the fields we
      // read — a size < 16 would make us read the NEXT chunk's bytes
      // as channels/rate/bits and accept fabricated metadata
      if (id == "fmt " && size >= 16 && o + 24 <= payload.length) {
        channels = leU16(payload, o + 10)
        rate = leU32(payload, o + 12).toInt
        bits = leU16(payload, o + 22)
      } else if (id == "data") {
        dataSize = size
      }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    // bits must be a positive multiple of 8: a corrupt fmt chunk with
    // bits in 1..7 would otherwise divide by zero below.
    if (rate <= 0 || channels <= 0 || bits <= 0 || bits % 8 != 0 || dataSize < 0) None
    else Some((rate, channels, bits, dataSize / (channels.toLong * (bits / 8))))
  }

  /** Canonical 44-byte-header PCM WAV encoder (the [[parseWav]]
    * round-trip partner; also the fixture generator for specs). The
    * samples are a deterministic sawtooth of the seed. */
  def encodeWav(rate: Int, channels: Int, bits: Int, nSamples: Int,
      seed: Long = 0L): Array[Byte] = {
    require(bits == 16, "encoder emits PCM16")
    val dataSize = nSamples * channels * 2
    val b = new Array[Byte](44 + dataSize)
    "RIFF".getBytes.copyToArray(b, 0); putLeU32(b, 4, 36L + dataSize)
    "WAVE".getBytes.copyToArray(b, 8); "fmt ".getBytes.copyToArray(b, 12)
    putLeU32(b, 16, 16L); putLeU16(b, 20, 1); putLeU16(b, 22, channels)
    putLeU32(b, 24, rate.toLong); putLeU32(b, 28, rate.toLong * channels * 2)
    putLeU16(b, 32, channels * 2); putLeU16(b, 34, bits)
    "data".getBytes.copyToArray(b, 36); putLeU32(b, 40, dataSize.toLong)
    var i = 0
    while (i < nSamples * channels) {
      putLeU16(b, 44 + 2 * i, (((seed + i * 257) % 65536) & 0xffff).toInt)
      i += 1
    }
    b
  }

  /** [[encodeWav]]'s explicit-samples sibling: PCM16 WAV from caller
    * samples (interleaved if channels > 1). Fixture builder for
    * envelope-level tests and the round-trip partner of
    * [[decodeWavSamples]]. */
  def encodeWavSamples(rate: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    require(samples.length % channels == 0, "samples must cover whole frames")
    val dataSize = samples.length * 2
    val b = new Array[Byte](44 + dataSize)
    "RIFF".getBytes.copyToArray(b, 0); putLeU32(b, 4, 36L + dataSize)
    "WAVE".getBytes.copyToArray(b, 8); "fmt ".getBytes.copyToArray(b, 12)
    putLeU32(b, 16, 16L); putLeU16(b, 20, 1); putLeU16(b, 22, channels)
    putLeU32(b, 24, rate.toLong); putLeU32(b, 28, rate.toLong * channels * 2)
    putLeU16(b, 32, channels * 2); putLeU16(b, 34, 16)
    "data".getBytes.copyToArray(b, 36); putLeU32(b, 40, dataSize.toLong)
    var i = 0
    while (i < samples.length) {
      putLeU16(b, 44 + 2 * i, samples(i) & 0xffff)
      i += 1
    }
    b
  }

  /** REAL PCM16 sample decode: locate the data chunk, reject non-16-bit
    * payloads, mix interleaved channels to mono by averaging. Returns
    * (sample rate, mono samples); None under the same reject-sink
    * contract as [[parseWav]]. */
  def decodeWavSamples(payload: Array[Byte]): Option[(Int, Array[Short])] =
    parseWav(payload).filter(_._3 == 16).flatMap { case (rate, channels, _, _) =>
      var off = 12L
      var found: Option[(Int, Int)] = None
      while (found.isEmpty && off + 8 <= payload.length) {
        val o = off.toInt
        val size = leU32(payload, o + 4)
        if (size < 0 || off + 8 + size > payload.length) return None
        if (tag(payload, o) == "data") found = Some((o + 8, size.toInt))
        off += 8 + size + (size & 1)
      }
      found.map { case (dataOff, dataSize) =>
        val nFrames = dataSize / (channels * 2)
        val mono = new Array[Short](nFrames)
        var f = 0
        while (f < nFrames) {
          var acc = 0L; var c = 0
          while (c < channels) {
            val v = leU16(payload, dataOff + (f * channels + c) * 2)
            acc += v.toShort  // sign-extend the stored 16-bit value
            c += 1
          }
          mono(f) = (acc / channels).toShort
          f += 1
        }
        (rate, mono)
      }
    }

  /** Perceptual audio hash (the dHash idea over time instead of space):
    * the mono stream splits into 65 equal windows, one bit per adjacent
    * window pair comparing RMS ENERGY (left < right) → 64 bits. Energy
    * comparisons are gain-structure — not absolute-level — so
    * re-encoded or slightly noisy copies collide. None for payloads
    * the codec rejects or streams shorter than the window grid. */
  def audioHash64(payload: Array[Byte]): Option[Long] =
    decodeWavSamples(payload).collect { case (_, mono) if mono.length >= 65 =>
      val win = 65
      val e = new Array[Double](win)
      var w = 0
      while (w < win) {
        val lo = (w.toLong * mono.length / win).toInt
        val hi = ((w + 1).toLong * mono.length / win).toInt
        var sum = 0.0; var i = lo
        while (i < hi) { val v = mono(i).toDouble; sum += v * v; i += 1 }
        e(w) = if (hi > lo) sum / (hi - lo) else 0.0
        w += 1
      }
      var bits = 0L; var i = 0
      while (i < 64) { if (e(i) < e(i + 1)) bits |= (1L << i); i += 1 }
      bits
    }

  /** Cosine basis for the 128-point DCT-II, low 64 frequencies only —
    * the audio-envelope sibling of the image [[dctCos]] table
    * (StrictMath for cross-JVM bit-stability). */
  private val dctCosA: Array[Array[Double]] =
    Array.tabulate(64, 128)((u, x) =>
      StrictMath.cos(math.Pi * (2 * x + 1) * u / 256.0))

  /** Spectral audio hash — [[pHash64]]'s idea over time: the mono
    * stream's MEAN-ENERGY envelope on a fixed 128-window grid, 1-D
    * DCT-II, low 64 coefficients thresholded at the median of the 63
    * AC terms → 64 bits. Where [[audioHash64]]'s strict adjacent-
    * window comparisons flip when neighboring windows are near-ties
    * (small noise, re-dithering), the envelope's low-frequency DCT
    * signs survive (MultimodalSpec plants an edit audioHash64 misses
    * and this catches). EXACTLY gain-invariant for power-of-two gain
    * (samples ×2 scale every energy, every DCT partial sum, and the
    * median by ×4 — an exponent shift, bit-exact in IEEE — so the
    * comparisons are identical; arbitrary gains are invariant up to
    * integer re-quantization noise). None for undecodable payloads or
    * streams shorter than the 128-window grid. */
  def audioSpectralHash64(payload: Array[Byte]): Option[Long] =
    decodeWavSamples(payload).collect { case (_, mono) if mono.length >= 128 =>
      val win = 128
      val e = new Array[Double](win)
      var w = 0
      while (w < win) {
        val lo = (w.toLong * mono.length / win).toInt
        val hi = ((w + 1).toLong * mono.length / win).toInt
        var sum = 0.0; var i = lo
        while (i < hi) { val v = mono(i).toDouble; sum += v * v; i += 1 }
        e(w) = if (hi > lo) sum / (hi - lo) else 0.0
        w += 1
      }
      val c = new Array[Double](64)
      var u = 0
      while (u < 64) {
        var s = 0.0; var x = 0
        while (x < win) { s += e(x) * dctCosA(u)(x); x += 1 }
        c(u) = s; u += 1
      }
      val ac = java.util.Arrays.copyOfRange(c, 1, 64)
      java.util.Arrays.sort(ac)
      val m = ac(31)
      var bits = 0L; var i = 0
      while (i < 64) { if (c(i) > m) bits |= (1L << i); i += 1 }
      bits
    }

  /** One (doc_id, shash) row per media row — the [[audioSpectralHash64]]
    * sibling of [[audioHashes]]; narrow map, no shuffle. */
  def audioSpectralHashes(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(r => (r.doc_id, audioSpectralHash64(r.payload))))
      .toDF("doc_id", "shash")
  }

  /** Audio near-dup pairs under the spectral hash — same capped
    * pigeonhole hamming join as [[nearDupAudio]].
    * Output: d1, d2, dist. */
  def nearDupAudioSpectral(media: Dataset[MediaRow], maxDist: Int = 3,
      maxBucket: Int = 100): DataFrame =
    hammingPairs(audioSpectralHashes(media).withColumnRenamed("shash", "h"),
      maxDist, maxBucket)

  /** One (doc_id, ahash) row per media row — null for undecodable or
    * too-short payloads (kept visible). Narrow map, no shuffle. */
  def audioHashes(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(r => (r.doc_id, audioHash64(r.payload))))
      .toDF("doc_id", "ahash")
  }

  /** Audio near-dup pairs: hamming(ahash) <= maxDist via the shared
    * pigeonhole machinery ([[hammingPairs]]). Output: d1, d2, dist. */
  def nearDupAudio(media: Dataset[MediaRow], maxDist: Int = 3,
      maxBucket: Int = 100): DataFrame =
    hammingPairs(audioHashes(media).withColumnRenamed("ahash", "h"),
      maxDist, maxBucket)

  /** Typed WAV metadata extraction over a binary column — a narrow
    * mapPartitions; malformed payloads are dropped (route them via a
    * separate anti-join when a reject table is needed). */
  def wavMeta(media: Dataset[MediaRow]): Dataset[WavMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      parseWav(r.payload).map { case (rate, ch, bits, n) =>
        WavMeta(r.doc_id, rate, ch, bits, n, n * 1000L / rate)
      }
    })
  }

  /** REAL BMP (24bpp uncompressed DIB) decode: dimensions + bpp from
    * the header; None for malformed payloads (bad magic, non-positive
    * or absurd dimensions). */
  def parseBmp(payload: Array[Byte]): Option[(Int, Int, Int)] = {
    if (payload.length < 54 || payload(0) != 'B' || payload(1) != 'M') None
    else {
      val w = leU32(payload, 18)
      val h = leU32(payload, 22)
      // dimension sanity: positive, and the pixel area must be
      // addressable (rejects corrupt headers before any allocation)
      if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20)) None
      else Some((w.toInt, h.toInt, leU16(payload, 28)))
    }
  }

  /** Minimal 24bpp BMP encoder from a row-major RGB pixel array
    * (3 bytes/pixel, top-down input; stored bottom-up with 4-byte row
    * padding per the format). */
  def encodeBmp(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3, "rgb must be w*h*3 bytes")
    val rowSize = (width * 3 + 3) / 4 * 4
    val dataSize = rowSize * height
    val b = new Array[Byte](54 + dataSize)
    b(0) = 'B'; b(1) = 'M'
    putLeU32(b, 2, 54L + dataSize); putLeU32(b, 10, 54L)
    putLeU32(b, 14, 40L); putLeU32(b, 18, width.toLong); putLeU32(b, 22, height.toLong)
    putLeU16(b, 26, 1); putLeU16(b, 28, 24); putLeU32(b, 34, dataSize.toLong)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val src = (y * width + x) * 3
        val dst = 54 + (height - 1 - y) * rowSize + x * 3
        b(dst) = rgb(src + 2); b(dst + 1) = rgb(src + 1); b(dst + 2) = rgb(src) // BGR
        x += 1
      }
      y += 1
    }
    b
  }

  /** Decode a 24bpp BMP payload back to a top-down row-major RGB array.
    * The pixel-data offset is read from the header (bfOffBits), and a
    * payload whose declared dimensions don't fit its actual length
    * returns None instead of reading out of bounds. */
  def decodeBmpPixels(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    parseBmp(payload).filter(_._3 == 24).flatMap { case (w, h, _) =>
      val offBits = leU32(payload, 10)
      val rowSize = (w.toLong * 3 + 3) / 4 * 4
      if (offBits < 54 || offBits + rowSize * h > payload.length ||
          w.toLong * h * 3 > Int.MaxValue) None
      else {
        val base = offBits.toInt
        val rgb = new Array[Byte]((w * h * 3).toInt)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val src = base + ((h - 1 - y) * rowSize).toInt + x * 3
            val dst = (y * w + x) * 3
            rgb(dst) = payload(src + 2); rgb(dst + 1) = payload(src + 1)
            rgb(dst + 2) = payload(src)
            x += 1
          }
          y += 1
        }
        Some((w, h, rgb))
      }
    }

  /** Perceptual dHash over a decoded BMP: 9×8 nearest-neighbor
    * grayscale grid, one bit per horizontal neighbor pair (left <
    * right) → 64 bits. Robust to re-encoding, resizing, and small
    * pixel noise — the standard image-dedup fingerprint. None for
    * payloads the codec cannot decode. */
  def dHash64(payload: Array[Byte]): Option[Long] =
    decodeBmpPixels(payload).map { case (w, h, rgb) =>
      val gx = 9; val gy = 8
      val g = Array.ofDim[Int](gy, gx)
      var y = 0
      while (y < gy) {
        val sy = math.min(h - 1, y * h / gy)
        var x = 0
        while (x < gx) {
          val sx = math.min(w - 1, x * w / gx)
          val p = (sy * w + sx) * 3
          g(y)(x) = ((rgb(p) & 0xff) * 299 + (rgb(p + 1) & 0xff) * 587 +
            (rgb(p + 2) & 0xff) * 114) / 1000
          x += 1
        }
        y += 1
      }
      var bits = 0L; var i = 0; var yy = 0
      while (yy < gy) {
        var xx = 0
        while (xx < 8) {
          if (g(yy)(xx) < g(yy)(xx + 1)) bits |= (1L << i)
          i += 1; xx += 1
        }
        yy += 1
      }
      bits
    }

  /** One (doc_id, dhash) row per media row — null hash for payloads
    * the codec cannot decode (kept visible, same rule as the quality
    * filters). A narrow mapPartitions; no shuffle. */
  def imageHashes(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(r => (r.doc_id, dHash64(r.payload))))
      .toDF("doc_id", "dhash")
  }

  /** Image-level near-dup pairs: hamming(dhash) <= maxDist, found by
    * PIGEONHOLE blocking — the 64-bit hash splits into four 16-bit
    * blocks, and any pair within distance 3 must agree on at least one
    * block (4 blocks, ≤ 3 differing bits), so candidates come from a
    * bucketed equi-join on (block index, block value), never an
    * all-pairs scan. Hot buckets (e.g. a constant-color boilerplate
    * image repeated corpus-wide) are capped by the same skew-safe
    * `capBuckets` as text SimHash; the exact `bit_count(xor)` filter
    * then prunes false candidates. maxDist > 3 weakens the pigeonhole
    * guarantee (documented; raise blocks in that case).
    * Output: d1, d2, dist. */
  def nearDupImages(media: Dataset[MediaRow], maxDist: Int = 3,
      maxBucket: Int = 100): DataFrame =
    hammingPairs(imageHashes(media).withColumnRenamed("dhash", "h"),
      maxDist, maxBucket)

  /** Cosine basis for the 32-point DCT-II, low 8 frequencies only
    * (`dctCos(u)(x) = cos(pi*(2x+1)*u/64)`). StrictMath keeps the
    * table bit-identical across JVMs/platforms, so pHash values are
    * reproducible between a build machine and a cluster. */
  private val dctCos: Array[Array[Double]] =
    Array.tabulate(8, 32)((u, x) =>
      StrictMath.cos(math.Pi * (2 * x + 1) * u / 64.0))

  /** DCT perceptual hash (pHash) over a decoded BMP: nearest-neighbor
    * resample to a 32×32 luma grid, separable 2-D DCT-II, keep the
    * low-frequency 8×8 block, threshold each coefficient against the
    * MEDIAN of the 63 AC terms (DC excluded — it carries only global
    * brightness) → 64 bits. Where [[dHash64]]'s strict neighbor
    * comparisons flip under small brightness/clamping/noise edits,
    * pHash's low-frequency signs survive them (MultimodalSpec plants
    * a clamped-brightness duplicate dHash misses and pHash catches);
    * a uniform brightness shift moves ONLY the DC term in exact
    * arithmetic — in IEEE doubles the AC cosine-row sums are ~0 rather
    * than exactly 0, so the shift perturbs AC coefficients by ~1e-13,
    * far below the fixture textures' median gaps: the p63 dist-0
    * oracle holds by that margin, not by bit-level construction.
    * None for undecodable payloads. */
  def pHash64(payload: Array[Byte]): Option[Long] =
    decodeBmpPixels(payload).map { case (w, h, rgb) =>
      val n = 32
      val g = new Array[Double](n * n)
      var y = 0
      while (y < n) {
        val sy = math.min(h - 1, y * h / n)
        var x = 0
        while (x < n) {
          val sx = math.min(w - 1, x * w / n)
          val p = (sy * w + sx) * 3
          g(y * n + x) = ((rgb(p) & 0xff) * 299 + (rgb(p + 1) & 0xff) * 587 +
            (rgb(p + 2) & 0xff) * 114) / 1000
          x += 1
        }
        y += 1
      }
      // separable DCT: rows first (32×8), then columns (8×8)
      val t = Array.ofDim[Double](n, 8)
      var yy = 0
      while (yy < n) {
        var u = 0
        while (u < 8) {
          var s = 0.0; var x = 0
          while (x < n) { s += g(yy * n + x) * dctCos(u)(x); x += 1 }
          t(yy)(u) = s; u += 1
        }
        yy += 1
      }
      val c = new Array[Double](64)
      var v = 0
      while (v < 8) {
        var u = 0
        while (u < 8) {
          var s = 0.0; var yz = 0
          while (yz < n) { s += t(yz)(u) * dctCos(v)(yz); yz += 1 }
          c(v * 8 + u) = s; u += 1
        }
        v += 1
      }
      val ac = java.util.Arrays.copyOfRange(c, 1, 64)
      java.util.Arrays.sort(ac)
      val m = ac(31)
      var bits = 0L; var i = 0
      while (i < 64) { if (c(i) > m) bits |= (1L << i); i += 1 }
      bits
    }

  /** One (doc_id, phash) row per media row — null for undecodable
    * payloads. A narrow mapPartitions; no shuffle (the [[pHash64]]
    * sibling of [[imageHashes]]). */
  def pHashes(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(r => (r.doc_id, pHash64(r.payload))))
      .toDF("doc_id", "phash")
  }

  /** Image near-dup pairs under the DCT hash: same pigeonhole-blocked
    * hamming join as [[nearDupImages]], swapping dHash for [[pHash64]]
    * — the variant that survives brightness / clamping / mild-noise
    * edits a scraped-image dedup pass hits constantly.
    * Output: d1, d2, dist. */
  def nearDupImagesPHash(media: Dataset[MediaRow], maxDist: Int = 3,
      maxBucket: Int = 100): DataFrame =
    hammingPairs(pHashes(media).withColumnRenamed("phash", "h"),
      maxDist, maxBucket)

  /** Persist a corpus's image fingerprints as a (doc_id, h, blk, bv)
    * block index — the IMAGE sibling of the text band index
    * (`Dedup.writeBandIndex`): later batches dedup against ~32-byte
    * block rows, never against pixels. */
  def writePHashIndex(media: Dataset[MediaRow], path: String): Unit =
    hashBlocks(pHashes(media).withColumnRenamed("phash", "h"))
      .write.mode("overwrite").parquet(path)

  /** Append a new batch's (post-dedup survivor) fingerprints. */
  def appendPHashIndex(media: Dataset[MediaRow], path: String): Unit =
    hashBlocks(pHashes(media).withColumnRenamed("phash", "h"))
      .write.mode("append").parquet(path)

  /** One batch's fingerprints as a per-batch OVERWRITE dir — the
    * exactly-once streaming index sink
    * ([[graft.streaming.Ingest]] imageIngestStream layout;
    * [[appendPHashIndex]] is the at-least-once batch sibling). */
  def writePHashIndexBatch(media: Dataset[MediaRow], batchDir: String): Unit =
    hashBlocks(pHashes(media).withColumnRenamed("phash", "h"))
      .write.mode("overwrite").parquet(batchDir)

  /** Incremental image dedup: survivors of a NEW batch against a
    * persisted fingerprint index ([[writePHashIndex]]) plus within the
    * batch itself — the image form of `Dedup.dedupAgainstIndex`, same
    * keep/drop law: a batch image drops iff it hamming-matches an
    * indexed image within `maxDist`, sits in a within-batch component
    * CONTAINING such a match (transitive contamination), or is not the
    * min id of its clean within-batch component. With batch ids above
    * all indexed ids this equals a full [[nearDupImagesPHash]]-based
    * recompute over old ∪ new restricted to the batch (MultimodalSpec
    * proves it). Only the batch's pixels are ever decoded — the old
    * side contributes block rows; the bucket cap counts old+new
    * occupancy together, so a corpus-hot block stays dropped for new
    * batches. Returns the surviving media rows. */
  def dedupImagesAgainstIndex(media: Dataset[MediaRow], indexBlocks: DataFrame,
      maxDist: Int = 3, maxBucket: Int = 100, maxIter: Int = 20): DataFrame =
    dedupHashesAgainstIndex(media.toDF(),
      pHashes(media).withColumnRenamed("phash", "h"), indexBlocks,
      maxDist, maxBucket, maxIter)

  /** Incremental AUDIO dedup against a persisted spectral-hash block
    * index — the same keep/drop law as [[dedupImagesAgainstIndex]]
    * through the shared core; build/extend the index with
    * [[writeSpectralIndex]]/[[appendSpectralIndex]]. */
  def dedupAudioAgainstIndex(media: Dataset[MediaRow], indexBlocks: DataFrame,
      maxDist: Int = 3, maxBucket: Int = 100, maxIter: Int = 20): DataFrame =
    dedupHashesAgainstIndex(media.toDF(),
      audioSpectralHashes(media).withColumnRenamed("shash", "h"), indexBlocks,
      maxDist, maxBucket, maxIter)

  /** Persist an audio corpus's spectral fingerprints as block rows —
    * the audio sibling of [[writePHashIndex]]. */
  def writeSpectralIndex(media: Dataset[MediaRow], path: String): Unit =
    hashBlocks(audioSpectralHashes(media).withColumnRenamed("shash", "h"))
      .write.mode("overwrite").parquet(path)

  def appendSpectralIndex(media: Dataset[MediaRow], path: String): Unit =
    hashBlocks(audioSpectralHashes(media).withColumnRenamed("shash", "h"))
      .write.mode("append").parquet(path)

  /** One batch's spectral fingerprints as a per-batch OVERWRITE dir —
    * the [[writePHashIndexBatch]] sibling for the audio stream. */
  def writeSpectralIndexBatch(media: Dataset[MediaRow], batchDir: String): Unit =
    hashBlocks(audioSpectralHashes(media).withColumnRenamed("shash", "h"))
      .write.mode("overwrite").parquet(batchDir)

  /** The shared incremental-dedup core over any 64-bit perceptual
    * hash frame `(doc_id, h)` + a persisted block index: candidates
    * from the capped pigeonhole union join (old+new occupancy counted
    * together), exact hamming filter, within-batch components,
    * old-match + transitive-contamination drops, min-id survivors —
    * the `Dedup.dedupAgainstIndexBands` law re-expressed for hashes. */
  private def dedupHashesAgainstIndex(rows: DataFrame, hashes: DataFrame,
      indexBlocks: DataFrame, maxDist: Int, maxBucket: Int,
      maxIter: Int): DataFrame = {
    Dedup.ensureCheckpointDir(rows.sparkSession)
    val newBlocks = hashBlocks(hashes)
      .withColumn("is_new", lit(true))
    val idx = indexBlocks.select("doc_id", "h", "blk", "bv")
      .withColumn("is_new", lit(false))
    val all = Dedup.capBuckets(newBlocks.unionByName(idx), Seq("blk", "bv"),
      maxBucket)
    val newSide = all.filter(col("is_new"))
      .select(col("doc_id").as("new_id"), col("h").as("nh"),
        col("blk"), col("bv"))
    // candidate pipeline checkpointed ONCE into a bounded pair table
    // (three consumers below — the dedupAgainstIndexBands discipline)
    val cand = all
      .select(col("doc_id").as("other_id"), col("h").as("oh"),
        col("blk"), col("bv"), col("is_new"))
      .join(newSide, Seq("blk", "bv"))
      .filter(col("other_id") =!= col("new_id") &&
        (!col("is_new") || col("new_id") < col("other_id")))
      .select(col("new_id"), col("other_id"),
        col("is_new").as("other_is_new"),
        expr("CAST(bit_count(nh ^ oh) AS BIGINT)").as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
      .checkpoint()
    val newNew = cand.filter(col("other_is_new"))
      .select(least(col("new_id"), col("other_id")).as("d1"),
        greatest(col("new_id"), col("other_id")).as("d2"))
      .distinct()
    val oldMatched = cand.filter(!col("other_is_new"))
      .select(col("new_id").as("id")).distinct()
    val comp = Dedup.components(newNew, maxIter)
    val contaminated = comp.join(oldMatched, "id").select("comp").distinct()
    rows
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .join(oldMatched.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti")
      .join(contaminated.withColumnRenamed("comp", "ccomp"),
        col("comp") === col("ccomp"), "left_anti")
      .filter(col("comp").isNull || col("comp") === col("doc_id"))
      .drop("comp", "ccomp")
  }

  /** Shared pigeonhole candidate machinery for 64-bit perceptual
    * hashes (`(doc_id, h)` input; null hashes dropped): any pair
    * within hamming distance 3 agrees on at least one of the four
    * 16-bit blocks, so candidates come from a bucketed equi-join on
    * (block index, block value) — hot blocks capped by the same
    * skew-safe `capBuckets` as text SimHash — and the exact
    * `bit_count(xor)` filter prunes the rest. maxDist > 3 weakens the
    * pigeonhole guarantee. Output: d1, d2, dist. */
  /** (doc_id, h, blk, bv) block rows of a 64-bit hash frame — the
    * pigeonhole unit shared by the in-corpus pair join AND the
    * persisted fingerprint index ([[writePHashIndex]]): 4×16-bit
    * blocks, so any pair within hamming distance 3 shares a block.
    * Null hashes dropped. */
  private[operators] def hashBlocks(hashes: DataFrame): DataFrame =
    hashes.filter(col("h").isNotNull)
      .select(col("doc_id"), col("h"),
        explode(array((0 until 4).map(b => struct(lit(b).as("blk"),
          expr(s"(h >> ${b * 16}) & 65535").as("bv"))): _*)).as("x"))
      .select(col("doc_id"), col("h"), col("x.blk").as("blk"), col("x.bv").as("bv"))

  private[operators] def hammingPairs(hashes: DataFrame, maxDist: Int,
      maxBucket: Int): DataFrame = {
    val capped = Dedup.capBuckets(hashBlocks(hashes), Seq("blk", "bv"), maxBucket)
    capped.as("a").join(capped.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        expr("CAST(bit_count(a.h ^ b.h) AS BIGINT)").as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  // ---- Deterministic perceptual-dedup fixtures (oracle-checkable) ------

  /** Deterministic 32×32 grayscale BMP for doc `id`: pixel value at
    * row-major index idx is `((id/2)*31 + idx*7 + bump) % 256` with
    * `bump = 64` on every 37th pixel of ODD docs — so docs 2k and 2k+1
    * are planted near-duplicates whose dHashes differ in at most 3
    * bits (the bump reaches exactly two of the 72 sampled grid cells,
    * cells (0,0) and (2,1), which touch bits {0, 16, 17}).
    * Grayscale pixels make the luma transform exact
    * ((299v+587v+114v)/1000 = v), so a SQL oracle reproduces the hash
    * from this closed form without running the codec — the codec side
    * is proven by the encode/decode round-trip specs. */
  def imageFixture(id: Long): Array[Byte] = {
    val w = 32; val h = 32
    val rgb = new Array[Byte](w * h * 3)
    var idx = 0
    while (idx < w * h) {
      val bump = if (id % 2 == 1 && idx % 37 == 0) 64 else 0
      val v = (((id / 2) * 31 + idx * 7 + bump) % 256).toByte
      rgb(3 * idx) = v; rgb(3 * idx + 1) = v; rgb(3 * idx + 2) = v
      idx += 1
    }
    encodeBmp(w, h, rgb)
  }

  /** splitmix64 finalizer — the stateless per-index mixer used by the
    * pHash fixture texture (same construction as gen.DataGen's
    * deterministic columns). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic 32×32 grayscale BMP planting BRIGHTNESS-SHIFTED
    * duplicates for the p63 pHash gate: doc 2k is a pseudo-random
    * (splitmix64) texture with pixels in [0, 191]; doc 2k+1 is the
    * SAME texture +40 on every pixel — no clamping (max 231), so the
    * shift moves only the DC term of the DCT and [[pHash64]]'s
    * DC-excluded median hash is identical within a pair, while
    * distinct textures give independent well-separated hashes. The
    * oracle asserts exactly the planted (2k, 2k+1, dist=0) pair set —
    * a hash that is NOT brightness-invariant (raw pixels, histograms)
    * breaks every pair; a hash that pairs unrelated textures adds
    * rows. Grayscale keeps the luma transform exact (identity). */
  def pHashImageFixture(id: Long): Array[Byte] = {
    val w = 32; val h = 32
    val rgb = new Array[Byte](w * h * 3)
    val shift = if (id % 2 == 1) 40 else 0
    var idx = 0
    while (idx < w * h) {
      val v = ((mix64((id / 2) * 4096L + idx) >>> 16) % 192 + shift).toByte
      rgb(3 * idx) = v; rgb(3 * idx + 1) = v; rgb(3 * idx + 2) = v
      idx += 1
    }
    encodeBmp(w, h, rgb)
  }

  def pHashImageFixtures(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, pHashImageFixture(id), "image", 32, 32, 0L))
  }

  /** Deterministic 32×32 grayscale BMP planting near-duplicates at
    * NONZERO hamming distance for the p66 gate — the row that
    * exercises the pigeonhole join's `1 <= bit_count(a.h ^ b.h) <= 3`
    * path with a planted ground truth (p63/p64/p65 all collide at
    * exact hash equality): doc 2k is a pseudo-random texture in
    * [0, 192) (seed space offset from p63's so the two fixture
    * families never share a hash); doc 2k+1 is the SAME texture +32
    * on every 53rd pixel (20 of 1024 pixels, no clamping) — a
    * localized luma edit that nudges a few low-frequency DCT
    * coefficients across the AC median. [[pHash64]] sets exactly 32
    * of 64 bits (DC + the 31 AC terms above the strict median), so
    * pair distances are always EVEN; this edit lands 50 of the first
    * 100 pairs at distance 2, 45 at 0 and 5 at 4
    * (COVERAGE.md's round-14 state records the parameters and the
    * pair split; MultimodalSpec pins every distance).
    * p66's oracle asserts exactly the dist-2 pair set: the 0-pairs
    * prove the filter's lower bound, the 4-pairs its upper, and any
    * change to the hash moves some pair across a boundary. */
  def perturbedPHashFixture(id: Long): Array[Byte] = {
    val w = 32; val h = 32
    val rgb = new Array[Byte](w * h * 3)
    val bump = if (id % 2 == 1) 32 else 0
    var idx = 0
    while (idx < w * h) {
      val base = ((mix64(0x700000000L + (id / 2) * 4096L + idx) >>> 16) % 192).toInt
      val v = (base + (if (idx % 53 == 0) bump else 0)).toByte
      rgb(3 * idx) = v; rgb(3 * idx + 1) = v; rgb(3 * idx + 2) = v
      idx += 1
    }
    encodeBmp(w, h, rgb)
  }

  def perturbedPHashFixtures(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, perturbedPHashFixture(id), "image", 32, 32, 0L))
  }

  /** Deterministic 650-sample PCM16 mono WAV for doc `id`: sample i is
    * `((id/2)*7 + i*13 + bump) % 128` with `bump = 60` on every 331st
    * sample of ODD docs — planted near-dup pairs whose audioHash64
    * differ in at most 3 bits (the bump lands in energy windows 0 and
    * 33, touching bits {0, 32, 33}). 650 = 65 windows × 10 samples,
    * so window energies are integer-sum comparable and a SQL oracle
    * reproduces the hash exactly. */
  def audioFixture(id: Long): Array[Byte] = {
    val n = 650
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      val bump = if (id % 2 == 1 && i % 331 == 0) 60 else 0
      samples(i) = (((id / 2) * 7 + i * 13 + bump) % 128).toShort
      i += 1
    }
    encodeWavSamples(8000, 1, samples)
  }

  /** Deterministic 640-sample PCM16 mono WAV planting GAIN-SCALED
    * duplicates for the p64 spectral-hash gate: doc 2k is a
    * pseudo-random texture with samples in [0, 127]; doc 2k+1 is the
    * SAME stream with every sample ×2 (max 254, far inside PCM16).
    * A ×2 gain scales every window energy, DCT partial sum, and the
    * AC median by exactly ×4 — an IEEE exponent shift — so
    * [[audioSpectralHash64]] is BIT-IDENTICAL within a pair while
    * distinct textures give independent hashes; p64's oracle asserts
    * exactly the planted (2k, 2k+1, dist=0) set. 640 = 128 windows
    * × 5 samples, the spectral grid. */
  def spectralAudioFixture(id: Long): Array[Byte] = {
    val n = 640
    val gain = if (id % 2 == 1) 2 else 1
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      samples(i) = (((mix64((id / 2) * 8192L + i) >>> 16) % 128).toInt * gain).toShort
      i += 1
    }
    encodeWavSamples(8000, 1, samples)
  }

  def spectralAudioFixtures(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, spectralAudioFixture(id), "audio", 0, 0, 640L * 1000 / 8000))
  }

  /** The fixture corpora as media frames — the perceptual-dedup gate
    * queries (p33/p34) hash these through the REAL codecs and the
    * DuckDB oracle recomputes the same hashes from the closed form. */
  def imageFixtures(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, imageFixture(id), "image", 32, 32, 0L))
  }

  def audioFixtures(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, audioFixture(id), "audio", 0, 0, 650L * 1000 / 8000))
  }

  /** REAL video container decode: the payload is a sequence of
    * back-to-back 24bpp BMP frames (the uncompressed-MJPEG idea — each
    * frame's byte length comes from its own header's bfSize field), so
    * the walk is pure byte arithmetic like the WAV chunk walk. None
    * for malformed payloads: a frame without the magic, a declared
    * size running past the payload, or trailing garbage all reject the
    * whole container rather than decoding a prefix. */
  def parseBmpSequence(payload: Array[Byte]): Option[Seq[Array[Byte]]] = {
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var off = 0
    while (off < payload.length) {
      if (off + 54 > payload.length ||
          payload(off) != 'B' || payload(off + 1) != 'M') return None
      val size = leU32(payload, off + 2)
      if (size < 54 || off + size > payload.length) return None
      frames += java.util.Arrays.copyOfRange(payload, off, off + size.toInt)
      off += size.toInt
    }
    if (frames.isEmpty) None else Some(frames.toSeq)
  }

  /** One (doc_id, frame_idx, fhash) row per decodable video frame —
    * the keyframe-fingerprint table real video dedup runs on: each
    * frame hashed with [[pHash64]] (brightness/noise-robust), the walk
    * and hash both narrow (flatMap, no shuffle). Videos the container
    * codec rejects are absent; individual undecodable frames keep a
    * null hash. */
  def videoFrameHashes(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      parseBmpSequence(r.payload).toSeq.flatMap(_.zipWithIndex.map {
        case (f, idx) => (r.doc_id, idx, pHash64(f))
      })
    }).toDF("doc_id", "frame_idx", "fhash")
  }

  /** Video near-dup pairs by FRAME-FINGERPRINT intersection: two
    * videos match when at least `minFrames` DISTINCT frame pHashes
    * collide — the sequence-level robustness a single aggregated hash
    * cannot give (a trimmed or re-cut copy still shares most keyframe
    * fingerprints; a brightness-graded copy shares ALL of them, since
    * pHash is shift-invariant per frame). Candidates come from an
    * equi-join on the 64-bit frame hash over the distinct
    * (doc, fhash) set — never all-pairs — with hot hashes (a black
    * frame shared corpus-wide) capped by the same skew-safe
    * `capBuckets` as every other blocking scheme.
    * Output: d1, d2, matched (distinct shared fingerprints). */
  def nearDupVideos(media: Dataset[MediaRow], minFrames: Int = 4,
      maxBucket: Int = 100): DataFrame = {
    val fh = videoFrameHashes(media)
      .filter(col("fhash").isNotNull)
      .select("doc_id", "fhash").distinct()
    val capped = Dedup.capBuckets(fh, Seq("fhash"), maxBucket)
    capped.as("a").join(capped.as("b"),
        col("a.fhash") === col("b.fhash") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).cast("long").as("matched"))
      .filter(col("matched") >= minFrames)
  }

  /** Distinct (doc_id, fhash) frame-fingerprint rows of a video
    * corpus — the unit the VIDEO index persists ([[writeFrameIndex]])
    * and [[nearDupVideos]]' candidate join runs on. Video dedup needs
    * per-doc frame SETS (the matched-count law is set intersection,
    * not single-hash identity), which is why it cannot ride the
    * single-hash `dedupHashesAgainstIndex` core the image/audio
    * indexes share. Null frame hashes dropped; the walk + hash are
    * narrow, the distinct is the one exchange. */
  def frameFingerprints(media: Dataset[MediaRow]): DataFrame =
    videoFrameHashes(media).filter(col("fhash").isNotNull)
      .select("doc_id", "fhash").distinct()

  /** Persist a video corpus's frame fingerprints as distinct
    * (doc_id, fhash) rows — the video sibling of [[writePHashIndex]]:
    * later batches dedup against ~16-byte fingerprint rows, never
    * against pixels. */
  def writeFrameIndex(media: Dataset[MediaRow], path: String): Unit =
    frameFingerprints(media).write.mode("overwrite").parquet(path)

  /** Append a new batch's (post-dedup survivor) frame fingerprints. */
  def appendFrameIndex(media: Dataset[MediaRow], path: String): Unit =
    frameFingerprints(media).write.mode("append").parquet(path)

  /** One batch's frame fingerprints as a per-batch OVERWRITE dir —
    * the exactly-once streaming index sink
    * ([[graft.streaming.Ingest]] videoIngestStream layout;
    * [[appendFrameIndex]] is the at-least-once batch sibling). */
  def writeFrameIndexBatch(media: Dataset[MediaRow], batchDir: String): Unit =
    frameFingerprints(media).write.mode("overwrite").parquet(batchDir)

  /** Incremental VIDEO dedup: survivors of a NEW batch against a
    * persisted frame-fingerprint index ([[writeFrameIndex]]) plus
    * within the batch itself — the video form of
    * [[dedupImagesAgainstIndex]], with the [[nearDupVideos]] match
    * rule: a pair matches when it shares at least `minFrames` DISTINCT
    * frame pHashes. Keep/drop law (the shared one): a batch video
    * drops iff it frame-matches an indexed video, sits in a
    * within-batch component CONTAINING such a match (transitive
    * contamination), or is not the min id of its clean within-batch
    * component. With batch ids above all indexed ids this equals a
    * full [[nearDupVideos]]-based recompute over old ∪ new restricted
    * to the batch (MultimodalSpec proves it). Only the batch's frames
    * are ever decoded — the old side contributes fingerprint rows;
    * the hot-hash cap counts old+new occupancy together, so a
    * corpus-hot frame (a black frame, say) stays capped for new
    * batches. Returns the surviving media rows. */
  def dedupVideosAgainstIndex(media: Dataset[MediaRow], indexFrames: DataFrame,
      minFrames: Int = 4, maxBucket: Int = 100, maxIter: Int = 20): DataFrame = {
    Dedup.ensureCheckpointDir(media.sparkSession)
    val newFp = frameFingerprints(media).withColumn("is_new", lit(true))
    val idx = indexFrames.select("doc_id", "fhash")
      .withColumn("is_new", lit(false))
    val all = Dedup.capBuckets(newFp.unionByName(idx), Seq("fhash"), maxBucket)
    val newSide = all.filter(col("is_new"))
      .select(col("doc_id").as("new_id"), col("fhash"))
    // one row per (pair, shared fingerprint) — both sides are distinct
    // per (doc, fhash), so the count IS the intersection size; the
    // bounded pair table is checkpointed once for its three consumers
    // (the dedupHashesAgainstIndex discipline)
    val cand = all
      .select(col("doc_id").as("other_id"), col("fhash"), col("is_new"))
      .join(newSide, Seq("fhash"))
      .filter(col("other_id") =!= col("new_id") &&
        (!col("is_new") || col("new_id") < col("other_id")))
      .groupBy(col("new_id"), col("other_id"), col("is_new"))
      .agg(count(lit(1)).cast("long").as("matched"))
      .filter(col("matched") >= minFrames)
      .withColumnRenamed("is_new", "other_is_new")
      .checkpoint()
    val newNew = cand.filter(col("other_is_new"))
      .select(least(col("new_id"), col("other_id")).as("d1"),
        greatest(col("new_id"), col("other_id")).as("d2"))
      .distinct()
    val oldMatched = cand.filter(!col("other_is_new"))
      .select(col("new_id").as("id")).distinct()
    val comp = Dedup.components(newNew, maxIter)
    val contaminated = comp.join(oldMatched, "id").select("comp").distinct()
    media.toDF()
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .join(oldMatched.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti")
      .join(contaminated.withColumnRenamed("comp", "ccomp"),
        col("comp") === col("ccomp"), "left_anti")
      .filter(col("comp").isNull || col("comp") === col("doc_id"))
      .drop("comp", "ccomp")
  }

  // ---- Media eval-set decontamination -------------------------------

  /** Shared single-hash eval screen: rows of `corpusHashes` (doc_id, h)
    * whose hash lands within `maxDist` of ANY `evalHashes` hash — the
    * perceptual form of the text pipeline's eval-contamination screens
    * (`Dedup.contamination` family): a train image/clip that is a
    * near-dup of a benchmark item leaks the benchmark into training.
    * Pure screen semantics — no within-corpus transitivity, no
    * survivor election; pigeonhole block join corpus-vs-eval with the
    * occupancy cap on the EVAL side only: the corpus side must never
    * be capped (a capped-away train row would silently skip its
    * screen), and capping eval alone still bounds the join — every
    * corpus row meets at most 4 × maxBucket eval block rows, so the
    * output is linear in the corpus at any skew. Eval sets are
    * benchmark-sized (far under any sane cap), so in practice the cap
    * only guards a degenerate eval with one hot block.
    * Returns the distinct contaminated corpus doc_ids. */
  private def contaminatedByHash(corpusHashes: DataFrame,
      evalHashes: DataFrame, maxDist: Int, maxBucket: Int): DataFrame =
    contaminatedByBlocks(corpusHashes, hashBlocks(evalHashes),
      maxDist, maxBucket)

  /** [[contaminatedByHash]] with the eval side already in the
    * persisted block-index layout ([[writePHashIndex]] /
    * [[writeSpectralIndex]]'s (doc_id, h, blk, bv) rows) — the form
    * that screens many train batches against a frozen benchmark
    * without ever re-hashing eval payloads. */
  private def contaminatedByBlocks(corpusHashes: DataFrame,
      evalBlocks: DataFrame, maxDist: Int, maxBucket: Int): DataFrame = {
    // Hard bound, not a doc caveat like the nearDup* family's: beyond
    // distance 3 the 4x16-bit pigeonhole no longer guarantees a shared
    // block, and for a decontamination SCREEN a silent false negative
    // is a benchmark leak reaching training — fail loudly instead.
    require(maxDist >= 0 && maxDist <= 3,
      s"media decontamination screens require 0 <= maxDist <= 3 " +
        s"(got $maxDist): the 4-block pigeonhole guarantees recall " +
        "only within hamming distance 3")
    val cb = hashBlocks(corpusHashes)
      .select(col("doc_id").as("c_id"), col("h").as("ch"),
        col("blk"), col("bv"))
    val eb = Dedup.capBuckets(evalBlocks.select("doc_id", "h", "blk", "bv"),
      Seq("blk", "bv"), maxBucket)
    cb.join(eb, Seq("blk", "bv"))
      .filter(expr(s"bit_count(ch ^ h) <= $maxDist"))
      .select(col("c_id").as("doc_id")).distinct()
  }

  /** Drop train images that are perceptual near-dups (DCT pHash within
    * `maxDist`) of ANY eval image — benchmark-leakage decontamination
    * for the image modality. Undecodable train rows keep (a row that
    * cannot be hashed cannot be screened; the decode-validate stage is
    * where undecodables die). Eval hashes are computed once per call —
    * screen many train batches against a frozen eval set by persisting
    * [[writePHashIndex]] of the eval corpus and joining its blocks,
    * the same fingerprint-index economics as incremental dedup.
    * Returns the surviving train media rows. */
  def decontaminateImages(train: Dataset[MediaRow], eval: Dataset[MediaRow],
      maxDist: Int = 0, maxBucket: Int = 100): DataFrame =
    train.toDF().join(
      contaminatedByHash(
        pHashes(train).withColumnRenamed("phash", "h"),
        pHashes(eval).withColumnRenamed("phash", "h"),
        maxDist, maxBucket),
      Seq("doc_id"), "left_anti")

  /** [[decontaminateImages]] against a PERSISTED eval fingerprint
    * index ([[writePHashIndex]] of the benchmark corpus) — eval
    * payloads hashed once at index-build time, every train batch
    * thereafter screens against ~32-byte block rows. */
  def decontaminateImagesAgainstIndex(train: Dataset[MediaRow],
      evalIndex: DataFrame, maxDist: Int = 0, maxBucket: Int = 100): DataFrame =
    train.toDF().join(
      contaminatedByBlocks(
        pHashes(train).withColumnRenamed("phash", "h"),
        evalIndex, maxDist, maxBucket),
      Seq("doc_id"), "left_anti")

  /** [[decontaminateImages]]' audio sibling under the spectral DCT
    * hash ([[audioSpectralHash64]] — gain-invariant, so a re-levelled
    * copy of a benchmark clip still screens out). */
  def decontaminateAudio(train: Dataset[MediaRow], eval: Dataset[MediaRow],
      maxDist: Int = 0, maxBucket: Int = 100): DataFrame =
    train.toDF().join(
      contaminatedByHash(
        audioSpectralHashes(train).withColumnRenamed("shash", "h"),
        audioSpectralHashes(eval).withColumnRenamed("shash", "h"),
        maxDist, maxBucket),
      Seq("doc_id"), "left_anti")

  /** [[decontaminateAudio]] against a persisted
    * [[writeSpectralIndex]] of the benchmark corpus. */
  def decontaminateAudioAgainstIndex(train: Dataset[MediaRow],
      evalIndex: DataFrame, maxDist: Int = 0, maxBucket: Int = 100): DataFrame =
    train.toDF().join(
      contaminatedByBlocks(
        audioSpectralHashes(train).withColumnRenamed("shash", "h"),
        evalIndex, maxDist, maxBucket),
      Seq("doc_id"), "left_anti")

  /** Video eval decontamination under the frame-fingerprint rule: a
    * train video drops when it shares at least `minFrames` DISTINCT
    * frame pHashes with ANY eval video ([[nearDupVideos]]' match law
    * as a screen — trims and brightness grades of a benchmark clip
    * still screen out). Frame fingerprints on both sides, fhash-keyed
    * equi-join with the occupancy cap on the EVAL side only (the
    * [[decontaminateImages]] argument: a capped-away train frame
    * silently skips its screen, while capping eval alone bounds the
    * join fan-out per train frame by the capped eval occupancy), per
    * (train, eval) pair distinct-intersection count — never all-pairs,
    * never eval pixels after the one hash pass. Returns the surviving
    * train media rows. */
  def decontaminateVideos(train: Dataset[MediaRow], eval: Dataset[MediaRow],
      minFrames: Int = 4, maxBucket: Int = 100): DataFrame =
    decontaminateVideosAgainstIndex(train, frameFingerprints(eval),
      minFrames, maxBucket)

  /** [[decontaminateVideos]] against a persisted [[writeFrameIndex]]
    * of the benchmark corpus (distinct (doc_id, fhash) rows) — eval
    * frames decoded once at index-build time. */
  def decontaminateVideosAgainstIndex(train: Dataset[MediaRow],
      evalFrames: DataFrame, minFrames: Int = 4,
      maxBucket: Int = 100): DataFrame = {
    val tf = frameFingerprints(train)
      .select(col("doc_id").as("t_id"), col("fhash"))
    val ef = Dedup.capBuckets(evalFrames.select("doc_id", "fhash"),
        Seq("fhash"), maxBucket)
      .select(col("doc_id").as("e_id"), col("fhash"))
    val contaminated = tf.join(ef, Seq("fhash"))
      .groupBy("t_id", "e_id")
      .agg(count(lit(1)).as("matched"))
      .filter(col("matched") >= minFrames)
      .select(col("t_id").as("doc_id")).distinct()
    train.toDF().join(contaminated, Seq("doc_id"), "left_anti")
  }

  // ---- Media quality scoring ----------------------------------------

  /** Per-image sharpness: population variance of the 4-neighbor
    * Laplacian over the interior luma grid — the blur/flat-content
    * detector every scraped-image curation pass runs (a defocused or
    * solid-color image has no high-frequency energy, so the Laplacian
    * variance collapses toward 0; textured content scores high). The
    * variance is computed from EXACT integer sums as
    * (n·Σlp² − (Σlp)²) / n² in one IEEE division (6dp) so a SQL
    * oracle reproduces it bit for bit from the closed-form fixture
    * pixels; exact up to ~3 Mpx per image (the Long bound on n·Σlp²),
    * far above this codec family's sizes. Null for undecodable
    * payloads or images with no interior (w or h < 3) — kept visible,
    * the null-hash discipline. Narrow mapPartitions, no shuffle.
    * Output: doc_id, sharpness. */
  def imageSharpness(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      val s = decodeBmpPixels(r.payload).flatMap { case (w, h, rgb) =>
        if (w < 3 || h < 3) None
        else {
          val g = new Array[Int](w * h)
          var i = 0
          while (i < w * h) {
            g(i) = ((rgb(3 * i) & 0xff) * 299 + (rgb(3 * i + 1) & 0xff) * 587 +
              (rgb(3 * i + 2) & 0xff) * 114) / 1000
            i += 1
          }
          var sum = 0L; var ss = 0L
          val n = (w - 2).toLong * (h - 2)
          var y = 1
          while (y < h - 1) {
            var x = 1
            while (x < w - 1) {
              val c = y * w + x
              val lp = 4L * g(c) - g(c - w) - g(c + w) - g(c - 1) - g(c + 1)
              sum += lp; ss += lp * lp
              x += 1
            }
            y += 1
          }
          Some((n * ss - sum * sum).toDouble / (n.toDouble * n))
        }
      }
      (r.doc_id, s)
    }).toDF("doc_id", "raw")
      .select(col("doc_id"), round(col("raw"), 6).as("sharpness"))
  }

  /** Per-clip audio quality stats: sample count, peak |amplitude|,
    * RMS level and clipping fraction (|s| ≥ `clipLevel`, default
    * ~0.984 full scale) — the silence / level / clipping screens an
    * audio curation pass gates on (near-zero RMS = dead air, high
    * clip_frac = distorted capture). RMS divides the exact integer
    * Σs² by n before one IEEE sqrt, so the oracle reproduces it from
    * closed-form fixture samples. Null stats for undecodable or
    * empty payloads, kept visible. Narrow, no shuffle.
    * Output: doc_id, n_samples, peak, rms, clip_frac. */
  def audioStats(media: Dataset[MediaRow], clipLevel: Int = 32256): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      val s = decodeWavSamples(r.payload).collect {
        case (_, samples) if samples.nonEmpty =>
          var ss = 0L; var peak = 0; var clipped = 0L
          var i = 0
          while (i < samples.length) {
            val a = math.abs(samples(i).toInt)
            ss += a.toLong * a
            if (a > peak) peak = a
            if (a >= clipLevel) clipped += 1
            i += 1
          }
          val n = samples.length
          (n, peak, math.sqrt(ss.toDouble / n), clipped.toDouble / n)
      }
      (r.doc_id, s)
    }).toDF("doc_id", "s")
      .select(col("doc_id"), col("s._1").as("n_samples"),
        col("s._2").as("peak"), round(col("s._3"), 6).as("rms"),
        round(col("s._4"), 6).as("clip_frac"))
  }

  /** Per-video motion score: mean absolute luma difference between
    * consecutive frames, averaged over all pairs — the frozen-clip /
    * static-slate detector (a stuck or still "video" wastes its
    * modality budget; motion 0 means every frame is pixel-identical).
    * Exact integer Σ|Δ| over pairs.toLong · w · h in one IEEE
    * division (6dp). Unclamped uniform grading of every frame leaves
    * the score unchanged (the diffs are shift-invariant —
    * MultimodalSpec pins it). Null motion for undecodable payloads,
    * fewer than 2 frames, or frame-size mismatches.
    * Output: doc_id, n_frames, motion. */
  def videoMotion(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      val parsed = parseBmpSequence(r.payload)
      val nFrames = parsed.map(_.size)
      val motion = parsed.flatMap { frames =>
        val lumas = frames.map(decodeBmpPixels(_).map { case (w, h, rgb) =>
          val g = new Array[Int](w * h)
          var i = 0
          while (i < w * h) {
            g(i) = ((rgb(3 * i) & 0xff) * 299 + (rgb(3 * i + 1) & 0xff) * 587 +
              (rgb(3 * i + 2) & 0xff) * 114) / 1000
            i += 1
          }
          g
        })
        if (lumas.size < 2 || lumas.exists(_.isEmpty)) None
        else {
          val gs = lumas.map(_.get)
          if (gs.map(_.length).distinct.size != 1) None
          else {
            var sumAbs = 0L
            var f = 1
            while (f < gs.size) {
              val a = gs(f - 1); val b = gs(f)
              var i = 0
              while (i < a.length) { sumAbs += math.abs(a(i) - b(i)); i += 1 }
              f += 1
            }
            Some(sumAbs.toDouble / ((gs.size - 1).toLong * gs.head.length))
          }
        }
      }
      (r.doc_id, nFrames, motion)
    }).toDF("doc_id", "n_frames", "raw")
      .select(col("doc_id"), col("n_frames"),
        round(col("raw"), 6).as("motion"))
  }

  /** Deterministic 6-frame video fixture planting the STATIC-CLIP
    * ground truth for the video-motion gate: even docs repeat ONE
    * 32×32 texture six times (motion exactly 0 — every consecutive
    * diff is pixel-identical), odd docs use six DISTINCT textures of
    * the same pseudo-random family (motion far above 0). Seed space
    * offset from [[videoFixture]]'s so the two families never share
    * frames. The planted classification IS the oracle: a motion
    * score that reads any static clip as moving (or any dynamic one
    * as frozen) flips a row. */
  def motionVideoFixture(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < 6) {
      val tex = if (id % 2 == 0) 0L else f.toLong
      val rgb = new Array[Byte](32 * 32 * 3)
      var idx = 0
      while (idx < 32 * 32) {
        val v = ((mix64(0x900000000L + (id / 2) * 65536L + tex * 4096L + idx) >>> 16) % 192).toByte
        rgb(3 * idx) = v; rgb(3 * idx + 1) = v; rgb(3 * idx + 2) = v
        idx += 1
      }
      out.write(encodeBmp(32, 32, rgb))
      f += 1
    }
    out.toByteArray
  }

  def motionVideoFixtures(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, motionVideoFixture(id), "video", 32, 32, 6000L))
  }

  /** Deterministic 6-frame 32×32 grayscale BMP-sequence video planting
    * TRIMMED + BRIGHTNESS-GRADED duplicates for the p65 gate: video 2k
    * is six distinct pseudo-random textures; video 2k+1 is frames 0-4
    * of the SAME textures (last frame trimmed) with every pixel +40 —
    * no clamping, so each surviving frame's pHash is bit-identical
    * ([[pHashImageFixture]]'s argument) and the pair shares exactly 5
    * distinct fingerprints: the oracle asserts the planted
    * (2k, 2k+1, matched=5) set, proving trim AND brightness robustness
    * in one row. Distinct textures never collide. */
  def videoFixture(id: Long): Array[Byte] = {
    val nFrames = if (id % 2 == 1) 5 else 6
    val shift = if (id % 2 == 1) 40 else 0
    val out = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < nFrames) {
      val rgb = new Array[Byte](32 * 32 * 3)
      var idx = 0
      while (idx < 32 * 32) {
        val v = ((mix64((id / 2) * 65536L + f * 4096L + idx) >>> 16) % 192 + shift).toByte
        rgb(3 * idx) = v; rgb(3 * idx + 1) = v; rgb(3 * idx + 2) = v
        idx += 1
      }
      out.write(encodeBmp(32, 32, rgb))
      f += 1
    }
    out.toByteArray
  }

  def videoFixtures(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, videoFixture(id), "video", 32, 32,
        (if (id % 2 == 1) 5L else 6L) * 1000))
  }

  /** REAL image resize: decode the BMP payload, nearest-neighbor
    * resample so the longest edge is `maxDim`, re-encode, and update
    * the metadata. A narrow mapPartitions (one "codec init" per
    * partition, rows streamed); non-BMP payloads pass through
    * untouched. This is the payload-touching form of [[resizeMeta]]. */
  def resizeBmp(media: Dataset[MediaRow], maxDim: Int): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      decodeBmpPixels(r.payload) match {
        case Some((w, h, rgb)) if math.max(w, h) > maxDim =>
          val scale = maxDim.toDouble / math.max(w, h)
          val nw = math.max(1, (w * scale).toInt)
          val nh = math.max(1, (h * scale).toInt)
          val out = new Array[Byte](nw * nh * 3)
          var y = 0
          while (y < nh) {
            val sy = math.min(h - 1, (y / scale).toInt)
            var x = 0
            while (x < nw) {
              val sx = math.min(w - 1, (x / scale).toInt)
              System.arraycopy(rgb, (sy * w + sx) * 3, out, (y * nw + x) * 3, 3)
              x += 1
            }
            y += 1
          }
          r.copy(payload = encodeBmp(nw, nh, out), width = nw, height = nh)
        case _ => r
      }
    })
  }
}
