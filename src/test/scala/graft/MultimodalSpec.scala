package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.sources.Tables

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Multimodal.asMedia(
    Tables.load(spark, sf, "documents").limit(50)).cache()

  test("asMedia: payload round-trips the source bytes with typed metadata") {
    val r = media.filter($"doc_id" === media.head().doc_id).head()
    assert(r.payload.nonEmpty)
    assert(Set("image", "audio", "video").contains(r.kind))
    assert(r.width >= 1 && r.height >= 1 && r.duration_ms >= 1000)
  }

  test("decodeFeatures: mapPartitions stage emits L1-normalized features") {
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.length == media.count())
    feats.foreach { f =>
      assert(f.features.length == 8)
      assert(math.abs(f.features.map(_.toDouble).sum - 1.0) < 1e-4)
    }
  }

  test("decodeFeatures is deterministic") {
    val a = Multimodal.decodeFeatures(media).orderBy("doc_id").collect().map(_.features.toSeq)
    val b = Multimodal.decodeFeatures(media.repartition(5)).orderBy("doc_id")
      .collect().map(_.features.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("sampleFrames: one row per 5s of video duration") {
    val vids = media.filter($"kind" === "video").collect()
    val frames = Multimodal.sampleFrames(media).collect()
    val expected = vids.map(v => (v.duration_ms / 5000L).toInt + 1).sum
    assert(frames.length == expected)
    assert(frames.forall(f => f.offset_ms == f.frame_idx * 5000L))
  }

  test("resizeMeta caps the longest edge, preserves payload") {
    val resized = Multimodal.resizeMeta(media, 100).collect()
    assert(resized.forall(r => math.max(r.width, r.height) <= 100))
    val orig = media.collect().map(r => r.doc_id -> r.payload.toSeq).toMap
    assert(resized.forall(r => r.payload.toSeq == orig(r.doc_id)))
  }

  test("WAV codec: encode/parse round-trip, chunk walk, corrupt payloads dropped") {
    val wav = Multimodal.encodeWav(rate = 16000, channels = 2, bits = 16,
      nSamples = 8000, seed = 42L)
    assert(Multimodal.parseWav(wav).contains((16000, 2, 16, 8000L)))
    // an extra chunk between fmt and data must not break the walk
    val listChunk = "LIST".getBytes ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes
    val withExtra = wav.take(36) ++ listChunk ++ wav.drop(36)
    assert(Multimodal.parseWav(withExtra).contains((16000, 2, 16, 8000L)))
    assert(Multimodal.parseWav("not audio at all".getBytes).isEmpty)
    // typed Dataset stage: duration derived from real header fields
    val m = Seq(
      Multimodal.MediaRow(1L, wav, "audio", 0, 0, 0L),
      Multimodal.MediaRow(2L, "garbage".getBytes, "audio", 0, 0, 0L)).toDS()
    val metas = Multimodal.wavMeta(m).collect()
    assert(metas.length == 1)
    assert(metas.head == Multimodal.WavMeta(1L, 16000, 2, 16, 8000L, 500L))
  }

  test("corrupt payloads: hostile chunk sizes, truncated pixels, bad bit depths all -> None") {
    // WAV with a chunk size of 0xFFFFFFF8: size.toInt would be -8 and an
    // Int-based walk loops forever / walks off the array
    val wav = Multimodal.encodeWav(16000, 1, 16, 100)
    val hostile = wav.clone()
    hostile(40) = 0xf8.toByte; hostile(41) = 0xff.toByte
    hostile(42) = 0xff.toByte; hostile(43) = 0xff.toByte
    assert(Multimodal.parseWav(hostile).isEmpty)
    // fmt chunk declaring 4 bits/sample: bits/8 == 0 must not divide by zero
    val odd = wav.clone(); odd(34) = 4; odd(35) = 0
    assert(Multimodal.parseWav(odd).isEmpty)
    // fmt chunk declaring size 0: fields would be read from the NEXT
    // chunk's bytes — must reject, not fabricate metadata
    val zeroFmt = wav.clone()
    zeroFmt(16) = 0; zeroFmt(17) = 0; zeroFmt(18) = 0; zeroFmt(19) = 0
    assert(Multimodal.parseWav(zeroFmt).isEmpty)
    // BMP header only (54 bytes, no pixel data): decode must refuse,
    // not read out of bounds
    val bmp = Multimodal.encodeBmp(4, 2, Array.fill(4 * 2 * 3)(1.toByte))
    assert(Multimodal.decodeBmpPixels(bmp.take(54)).isEmpty)
    // absurd width field
    val wide = bmp.clone()
    wide(18) = 0xff.toByte; wide(19) = 0xff.toByte
    wide(20) = 0xff.toByte; wide(21) = 0x7f.toByte
    assert(Multimodal.parseBmp(wide).isEmpty)
    assert(Multimodal.decodeBmpPixels(wide).isEmpty)
  }

  test("BMP codec: pixel round-trip and a REAL nearest-neighbor resize") {
    // 4x2 image with distinct per-pixel colors
    val rgb = Array.tabulate(4 * 2 * 3)(i => (i * 7 + 3).toByte)
    val bmp = Multimodal.encodeBmp(4, 2, rgb)
    assert(Multimodal.parseBmp(bmp).contains((4, 2, 24)))
    val Some((w, h, back)) = Multimodal.decodeBmpPixels(bmp)
    assert((w, h) == ((4, 2)) && back.toSeq == rgb.toSeq)
    // resize longest edge 4 -> 2: nearest-neighbor keeps exact source pixels
    val m = Seq(Multimodal.MediaRow(1L, bmp, "image", 4, 2, 0L)).toDS()
    val out = Multimodal.resizeBmp(m, maxDim = 2).head()
    assert((out.width, out.height) == ((2, 1)))
    val Some((nw, nh, rpix)) = Multimodal.decodeBmpPixels(out.payload)
    assert((nw, nh) == ((2, 1)))
    // pixel (x,y) of the result = source pixel (x/scale, y/scale)
    val expected = Array(0, 2).flatMap { sx =>
      val src = (0 * 4 + sx) * 3
      rgb.slice(src, src + 3)
    }
    assert(rpix.toSeq == expected.toSeq)
    // non-BMP payloads pass through untouched
    val passthru = Multimodal.resizeBmp(
      Seq(Multimodal.MediaRow(2L, "txt".getBytes, "image", 9, 9, 0L)).toDS(), 2).head()
    assert(passthru.payload.toSeq == "txt".getBytes.toSeq)
  }

  test("audio hash near-dup: gain change collides, inverted envelope does not") {
    // rising-loudness signal: window energies strictly increase
    def ramp(gain: Double, noise: Int): Array[Short] =
      Array.tabulate(6500) { i =>
        val amp = (i / 6500.0) * 8000 * gain + noise * (i % 7)
        (amp * (if (i % 2 == 0) 1 else -1)).toShort
      }
    val falling = Array.tabulate(6500) { i =>
      val amp = ((6500 - i) / 6500.0) * 8000
      (amp * (if (i % 2 == 0) 1 else -1)).toShort
    }
    val m = Seq(
      Multimodal.MediaRow(1L, Multimodal.encodeWavSamples(8000, 1, ramp(1.0, 0)), "audio", 0, 0, 0L),
      Multimodal.MediaRow(2L, Multimodal.encodeWavSamples(8000, 1, ramp(0.5, 3)), "audio", 0, 0, 0L),
      Multimodal.MediaRow(3L, Multimodal.encodeWavSamples(8000, 1, falling), "audio", 0, 0, 0L),
      Multimodal.MediaRow(4L, "not-audio".getBytes, "audio", 0, 0, 0L)).toDS()
    val hashes = Multimodal.audioHashes(m).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(hashes(4L).isEmpty && hashes(1L).nonEmpty)
    val pairs = Multimodal.nearDupAudio(m).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // half the gain + small noise: same rising envelope → same hash
    assert(pairs.contains((1L, 2L)), s"expected near-dup pair, got $pairs")
    assert(pairs((1L, 2L)) <= 3)
    // falling envelope flips every comparison: no block can agree
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    // stereo mix-down: the same signal duplicated over 2 channels
    // hashes identically to its mono form
    val stereo = ramp(1.0, 0).flatMap(s => Seq(s, s))
    val hs = Multimodal.audioHash64(Multimodal.encodeWavSamples(8000, 2, stereo))
    assert(hs == hashes(1L))
  }

  test("dHash near-dup: noisy copy pairs with the original, distinct image does not") {
    // 32x16 gradient image — dHash bits follow the left<right comparisons
    def gradient(tweak: Int): Array[Byte] = {
      val rgb = new Array[Byte](32 * 16 * 3)
      for (y <- 0 until 16; x <- 0 until 32; c <- 0 until 3)
        rgb((y * 32 + x) * 3 + c) = (x * 8 % 256).toByte
      if (tweak > 0)  // small pixel noise, invisible to the 9x8 grid
        for (i <- 0 until tweak) rgb(i * 97 % rgb.length) =
          (rgb(i * 97 % rgb.length) + 3).toByte
      rgb
    }
    val inverse = { // right-to-left gradient: every comparison flips
      val rgb = new Array[Byte](32 * 16 * 3)
      for (y <- 0 until 16; x <- 0 until 32; c <- 0 until 3)
        rgb((y * 32 + x) * 3 + c) = ((31 - x) * 8 % 256).toByte
      rgb
    }
    val m = Seq(
      Multimodal.MediaRow(1L, Multimodal.encodeBmp(32, 16, gradient(0)), "image", 32, 16, 0L),
      Multimodal.MediaRow(2L, Multimodal.encodeBmp(32, 16, gradient(5)), "image", 32, 16, 0L),
      Multimodal.MediaRow(3L, Multimodal.encodeBmp(32, 16, inverse), "image", 32, 16, 0L),
      Multimodal.MediaRow(4L, "not-an-image".getBytes, "image", 0, 0, 0L)).toDS()
    // undecodable payload keeps its row with a null hash
    val hashes = Multimodal.imageHashes(m).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(hashes(4L).isEmpty && hashes(1L).nonEmpty)
    val pairs = Multimodal.nearDupImages(m).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), s"expected near-dup pair, got $pairs")
    assert(pairs((1L, 2L)) <= 3)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("pHash catches the clamped-brightness duplicate dHash misses") {
    // One deterministic 32x32 grayscale image: a splitmix noise
    // texture (pixels <= 191, so +40 cannot clamp it) with FIVE
    // bright pixels (216..220) planted exactly on dHash's row-0
    // sample points sx = 0,3,7,10,14 in strictly ascending order.
    // The edit is clamp(v + 40, 255): the five bright pixels saturate
    // to a tie, flipping dHash bits 0..3 (strict '<' comparisons) ->
    // hamming >= 4, outside the dedup gate. pHash sees the same edit
    // as a uniform DC shift plus a 5-pixel perturbation bounded by
    // sum(clamp deltas) = 1+2+3+4+5 = 15 per DCT coefficient, far
    // under the noise texture's median gaps -> hamming stays <= 3.
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val brightCols = Seq(0, 3, 7, 10, 14)
    def img(edited: Boolean): Array[Byte] = {
      val rgb = new Array[Byte](32 * 32 * 3)
      for (idx <- 0 until 32 * 32) {
        val y = idx / 32; val x = idx % 32
        val base =
          if (y == 0 && brightCols.contains(x)) 216 + brightCols.indexOf(x)
          else ((mix(idx.toLong) >>> 16) % 192).toInt
        val v = if (edited) math.min(255, base + 40) else base
        rgb(3 * idx) = v.toByte; rgb(3 * idx + 1) = v.toByte
        rgb(3 * idx + 2) = v.toByte
      }
      rgb
    }
    val a = Multimodal.encodeBmp(32, 32, img(edited = false))
    val b = Multimodal.encodeBmp(32, 32, img(edited = true))
    val dA = Multimodal.dHash64(a).get; val dB = Multimodal.dHash64(b).get
    val pA = Multimodal.pHash64(a).get; val pB = Multimodal.pHash64(b).get
    assert(java.lang.Long.bitCount(dA ^ dB) >= 4,
      s"dHash was expected to MISS (>3 bits): ${java.lang.Long.bitCount(dA ^ dB)}")
    assert(java.lang.Long.bitCount(pA ^ pB) <= 3,
      s"pHash was expected to CATCH (<=3 bits): ${java.lang.Long.bitCount(pA ^ pB)}")
    // and through the full operators: the dHash gate drops the pair,
    // the pHash gate keeps it
    val m = Seq(
      Multimodal.MediaRow(1L, a, "image", 32, 32, 0L),
      Multimodal.MediaRow(2L, b, "image", 32, 32, 0L)).toDS()
    assert(Multimodal.nearDupImages(m).count() == 0L)
    val pPairs = Multimodal.nearDupImagesPHash(m).collect()
    assert(pPairs.length == 1 && pPairs.head.getLong(0) == 1L &&
      pPairs.head.getLong(1) == 2L)
  }

  test("pHash fixture corpus: brightness-shifted pairs are EXACT collisions (p63 contract)") {
    // doc 2k+1 = doc 2k with every pixel +40 and no clamping: only the
    // DC term of the DCT moves, so the DC-excluded median hash must be
    // bit-identical within a pair — and distinct noise textures must
    // not collide (maxDist = 0 gate, matching p63's oracle).
    val ids = (0L until 20L).toDF("doc_id")
    val hs = Multimodal.pHashes(Multimodal.pHashImageFixtures(ids))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach { k =>
      assert(hs(2 * k) == hs(2 * k + 1), s"pair ${2 * k} not shift-invariant")
    }
    assert(hs.values.toSet.size == 10, "distinct textures collided")
    val pairs = Multimodal.nearDupImagesPHash(
        Multimodal.pHashImageFixtures(ids), maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == (0L until 10L).map(k => (2 * k, 2 * k + 1, 0L)).toSet)
  }

  test("spectral audio hash catches the near-tie noise edit audioHash64 misses; x2 gain is an exact collision") {
    // Base stream: four PLANTED near-tie adjacent 65-grid window pairs
    // (window 2k+1 = copy of window 2k with one sample +1, so
    // e(2k) < e(2k+1) by the thinnest possible margin), noise after.
    // The edit bumps one sample of each LEFT window by +2 — enough to
    // flip all four strict comparisons (audioHash64 bits 0,2,4,6 ->
    // hamming >= 4, missed) but a rounding-sized perturbation to the
    // 64 low-frequency envelope DCT coefficients (spectral <= 3 bits).
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def stream(edited: Boolean): Array[Short] = {
      val n = 650 // 65 windows x 10 samples (the audioHash64 grid)
      val s = new Array[Short](n)
      for (i <- 0 until n) s(i) = ((mix(i.toLong) >>> 16) % 128).toShort
      for (k <- 0 until 4) {
        val w = 20 * k // windows 2k / 2k+1 start here
        for (j <- 0 until 10) s(w + 10 + j) = s(w + j) // exact copy
        s(w + 10) = (s(w + 10) + 1).toShort            // right wins by a hair
        if (edited) s(w) = (s(w) + 2).toShort          // left overtakes
      }
      s
    }
    val a = Multimodal.encodeWavSamples(8000, 1, stream(edited = false))
    val b = Multimodal.encodeWavSamples(8000, 1, stream(edited = true))
    val eA = Multimodal.audioHash64(a).get; val eB = Multimodal.audioHash64(b).get
    val sA = Multimodal.audioSpectralHash64(a).get
    val sB = Multimodal.audioSpectralHash64(b).get
    assert(java.lang.Long.bitCount(eA ^ eB) >= 4,
      s"audioHash64 was expected to MISS: ${java.lang.Long.bitCount(eA ^ eB)}")
    assert(java.lang.Long.bitCount(sA ^ sB) <= 3,
      s"spectral hash was expected to CATCH: ${java.lang.Long.bitCount(sA ^ sB)}")
    val m = Seq(
      Multimodal.MediaRow(1L, a, "audio", 0, 0, 0L),
      Multimodal.MediaRow(2L, b, "audio", 0, 0, 0L)).toDS()
    assert(Multimodal.nearDupAudio(m).count() == 0L)
    val pairs = Multimodal.nearDupAudioSpectral(m).collect()
    assert(pairs.length == 1 && pairs.head.getLong(0) == 1L &&
      pairs.head.getLong(1) == 2L)
  }

  test("spectral audio fixture: x2-gain pairs are EXACT collisions (p64 contract)") {
    val ids = (0L until 20L).toDF("doc_id")
    val hs = Multimodal.audioSpectralHashes(
        Multimodal.spectralAudioFixtures(ids))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach { k =>
      assert(hs(2 * k) == hs(2 * k + 1), s"pair ${2 * k} not gain-invariant")
    }
    assert(hs.values.toSet.size == 10, "distinct streams collided")
    val pairs = Multimodal.nearDupAudioSpectral(
        Multimodal.spectralAudioFixtures(ids), maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == (0L until 10L).map(k => (2 * k, 2 * k + 1, 0L)).toSet)
  }

  test("video container walk: round-trip, frame hashes, malformed payloads rejected whole") {
    val f1 = Multimodal.imageFixture(0L) // any valid BMPs work as frames
    val f2 = Multimodal.imageFixture(2L)
    val video = f1 ++ f2
    val frames = Multimodal.parseBmpSequence(video)
    assert(frames.exists(_.size == 2))
    assert(frames.get.map(_.toSeq) == Seq(f1.toSeq, f2.toSeq))
    // per-frame hashes equal the standalone image hashes, in order
    val m = Seq(Multimodal.MediaRow(7L, video, "video", 32, 32, 0L)).toDS()
    val fh = Multimodal.videoFrameHashes(m).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(fh == Map(0 -> Multimodal.pHash64(f1).get, 1 -> Multimodal.pHash64(f2).get))
    // trailing garbage, truncated second frame, bad magic: all -> None
    assert(Multimodal.parseBmpSequence(video ++ Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.parseBmpSequence(video.dropRight(10)).isEmpty)
    assert(Multimodal.parseBmpSequence("XX".getBytes ++ video).isEmpty)
    assert(Multimodal.parseBmpSequence(Array.emptyByteArray).isEmpty)
  }

  test("video fixture: trimmed + brightness-graded copies share exactly 5 fingerprints (p65 contract)") {
    val ids = (0L until 20L).toDF("doc_id")
    val pairs = Multimodal.nearDupVideos(Multimodal.videoFixtures(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == (0L until 10L).map(k => (2 * k, 2 * k + 1, 5L)).toSet)
    // raising the bar above the planted overlap drops every pair —
    // matched counts are exact intersections, not approximations
    assert(Multimodal.nearDupVideos(Multimodal.videoFixtures(ids),
      minFrames = 6).count() == 0L)
  }

  test("incremental image dedup against the fingerprint index == full recompute restricted to the batch") {
    import Multimodal.{MediaRow, pHashImageFixture}
    def m(id: Long, tex: Long) = MediaRow(id, pHashImageFixture(tex), "image", 32, 32, 0L)
    // indexed corpus: five distinct textures (fixture evens)
    val old = Seq(m(0, 0), m(2, 2), m(4, 4), m(6, 6), m(8, 8)).toDS()
    val idxDir = tmp("phidx") + "/idx"
    Multimodal.writePHashIndex(old, idxDir)
    // new batch (ids above all indexed ids — the equality precondition):
    //  100: brightness-shifted copy of texture 0  -> old match, drops
    //  101: shifted copy of texture 2             -> old match, drops
    //  102/103: a FRESH within-batch dup pair     -> keep min (102)
    //  104: fresh                                  -> kept
    //  105/106: within-batch dups whose twin 105 ALSO matches indexed
    //           texture 8 -> the whole component is contaminated, both drop
    val batch = Seq(m(100, 1), m(101, 3), m(102, 20), m(103, 21),
      m(104, 30), m(105, 9), m(106, 9)).toDS()
    val kept = Multimodal.dedupImagesAgainstIndex(batch,
        spark.read.parquet(idxDir), maxDist = 0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(102L, 104L), kept.toString)
    // the law: equals the full recompute over old ∪ new, restricted
    // to the batch
    val all = old.unionByName(batch)
    val full = graft.operators.Dedup.survivors(all.toDF(),
        Multimodal.nearDupImagesPHash(all, maxDist = 0))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == full.filter(_ >= 100L), s"full=$full kept=$kept")
  }

  test("incremental audio dedup against the spectral index == full recompute restricted to the batch") {
    import Multimodal.{MediaRow, spectralAudioFixture}
    def m(id: Long, tex: Long) = MediaRow(id, spectralAudioFixture(tex), "audio", 0, 0, 0L)
    val old = Seq(m(0, 0), m(2, 2), m(4, 4)).toDS()
    val idxDir = tmp("spidx") + "/idx"
    Multimodal.writeSpectralIndex(old, idxDir)
    // 100: x2-gain copy of indexed texture 0 -> drops; 101/102: fresh
    // within-batch gain-dup pair -> keep min; 103: fresh -> kept
    val batch = Seq(m(100, 1), m(101, 20), m(102, 21), m(103, 30)).toDS()
    val kept = Multimodal.dedupAudioAgainstIndex(batch,
        spark.read.parquet(idxDir), maxDist = 0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(101L, 103L), kept.toString)
    val all = old.unionByName(batch)
    val full = graft.operators.Dedup.survivors(all.toDF(),
        Multimodal.nearDupAudioSpectral(all, maxDist = 0))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == full.filter(_ >= 100L), s"full=$full kept=$kept")
  }

  test("incremental video dedup against the frame index == full recompute restricted to the batch") {
    import Multimodal.{MediaRow, videoFixture}
    def m(id: Long, tex: Long) = MediaRow(id, videoFixture(tex), "video", 32, 32, 0L)
    // indexed corpus: three distinct 6-frame videos (fixture evens)
    val old = Seq(m(0, 0), m(2, 2), m(4, 4)).toDS()
    val idxDir = tmp("vfidx") + "/idx"
    Multimodal.writeFrameIndex(old, idxDir)
    // new batch (ids above all indexed ids — the equality precondition):
    //  100: trimmed + graded copy of indexed texture 0 (shares 5
    //       fingerprints >= minFrames=4)          -> old match, drops
    //  101/102: a FRESH within-batch dup pair     -> keep min (101)
    //  103: fresh                                  -> kept
    //  104/105: within-batch dups whose twin 104 ALSO matches indexed
    //           texture 4 -> whole component contaminated, both drop
    val batch = Seq(m(100, 1), m(101, 20), m(102, 21),
      m(103, 30), m(104, 5), m(105, 5)).toDS()
    val kept = Multimodal.dedupVideosAgainstIndex(batch,
        spark.read.parquet(idxDir))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(101L, 103L), kept.toString)
    // the law: equals the full recompute over old ∪ new, restricted
    // to the batch
    val all = old.unionByName(batch)
    val full = graft.operators.Dedup.survivors(all.toDF(),
        Multimodal.nearDupVideos(all).select("d1", "d2"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == full.filter(_ >= 100L), s"full=$full kept=$kept")
    // the match bar is the operator's: a batch needing MORE shared
    // frames than the trim leaves (minFrames=6 > 5) keeps the copy
    assert(Multimodal.dedupVideosAgainstIndex(batch,
        spark.read.parquet(idxDir), minFrames = 6)
      .select("doc_id").as[Long].collect().toSet
        .contains(100L))
  }

  test("media eval decontamination: planted benchmark leaks drop in all three modalities; fresh and undecodable rows keep") {
    import Multimodal.{MediaRow, pHashImageFixture, spectralAudioFixture, videoFixture}
    // IMAGE: eval textures {0, 2}; train 10 = shifted twin of texture 0
    // (the p63 exact invariance -> dist 0 leak), 11 = fresh texture,
    // 12 = undecodable (cannot be screened -> keeps; decode-validate
    // is where undecodables die)
    def img(id: Long, tex: Long) = MediaRow(id, pHashImageFixture(tex), "image", 32, 32, 0L)
    val evalImg = Seq(img(0, 0), img(1, 2)).toDS()
    val trainImg = Seq(img(10, 1), img(11, 20),
      MediaRow(12L, "junk".getBytes, "image", 32, 32, 0L)).toDS()
    assert(Multimodal.decontaminateImages(trainImg, evalImg)
      .select("doc_id").as[Long].collect().toSet == Set(11L, 12L))
    // AUDIO: a re-levelled (x2 gain) copy of the benchmark clip still
    // screens out under the gain-invariant spectral hash
    def aud(id: Long, tex: Long) = MediaRow(id, spectralAudioFixture(tex), "audio", 0, 0, 0L)
    assert(Multimodal.decontaminateAudio(
        Seq(aud(10, 1), aud(11, 20)).toDS(), Seq(aud(0, 0)).toDS())
      .select("doc_id").as[Long].collect().toSet == Set(11L))
    // VIDEO: the trimmed + graded copy shares 5 of 6 frame
    // fingerprints — screens at minFrames=4, survives a bar above
    // what the trim leaves (minFrames=6)
    def vid(id: Long, tex: Long) = MediaRow(id, videoFixture(tex), "video", 32, 32, 0L)
    val evalVid = Seq(vid(0, 0)).toDS()
    val trainVid = Seq(vid(10, 1), vid(11, 20)).toDS()
    assert(Multimodal.decontaminateVideos(trainVid, evalVid)
      .select("doc_id").as[Long].collect().toSet == Set(11L))
    assert(Multimodal.decontaminateVideos(trainVid, evalVid, minFrames = 6)
      .select("doc_id").as[Long].collect().toSet == Set(10L, 11L))
    // index-variant law: screening against a PERSISTED eval
    // fingerprint index == screening against the eval payloads, per
    // modality (eval hashed once at index-build time)
    val evIdx = tmp("evidx")
    Multimodal.writePHashIndex(evalImg, s"$evIdx/img")
    Multimodal.writeSpectralIndex(Seq(aud(0, 0)).toDS(), s"$evIdx/aud")
    Multimodal.writeFrameIndex(evalVid, s"$evIdx/vid")
    assert(Multimodal.decontaminateImagesAgainstIndex(trainImg,
        spark.read.parquet(s"$evIdx/img"))
      .select("doc_id").as[Long].collect().toSet == Set(11L, 12L))
    assert(Multimodal.decontaminateAudioAgainstIndex(
        Seq(aud(10, 1), aud(11, 20)).toDS(),
        spark.read.parquet(s"$evIdx/aud"))
      .select("doc_id").as[Long].collect().toSet == Set(11L))
    assert(Multimodal.decontaminateVideosAgainstIndex(trainVid,
        spark.read.parquet(s"$evIdx/vid"))
      .select("doc_id").as[Long].collect().toSet == Set(11L))
    // recall guard: beyond distance 3 the pigeonhole stops
    // guaranteeing a shared block, and a screen that silently misses
    // leaks is worse than one that refuses — loud failure by contract
    val g = intercept[IllegalArgumentException] {
      Multimodal.decontaminateImages(trainImg, evalImg, maxDist = 4).count()
    }
    assert(g.getMessage.contains("maxDist <= 3"))
  }

  test("p66 fixture: localized luma edit lands planted pairs at the pinned even distances (nonzero-hamming contract)") {
    // the full per-pair evidence behind the p66 parameters that
    // COVERAGE.md's round-14 state records (step=53, delta=32): pHash
    // distances of the first 100 planted pairs — pinned so any fixture or hash change fails fast, the literal
    // source of p66's oracle IN-list
    val pinned = ("0,0,0,2,2,0,2,0,0,2,2,0,0,0,0,0,2,2,0,4,2,2,0,0,2,2," +
      "0,2,0,2,0,0,2,0,0,2,2,0,2,2,2,2,4,2,2,4,0,4,2,0,0,2,2,2,2,0,0,2," +
      "0,0,2,2,0,0,0,0,2,2,2,2,0,2,2,2,2,2,0,0,2,0,4,0,2,0,0,2,0,2,2,0," +
      "2,2,0,2,2,0,2,2,0,0").split(",").map(_.toInt).toSeq
    val dists = (0 until 100).map { k =>
      val a = Multimodal.pHash64(Multimodal.perturbedPHashFixture(2L * k)).get
      val b = Multimodal.pHash64(Multimodal.perturbedPHashFixture(2L * k + 1)).get
      java.lang.Long.bitCount(a ^ b)
    }
    assert(dists == pinned, s"fixture distances drifted: $dists")
    // the distributed pigeonhole join over the 200-doc corpus returns
    // EXACTLY the dist-2 planted set — 0-pairs excluded below, 4-pairs
    // above, and no cross-texture pair sneaks in
    val ids = (0L until 200L).toDF("doc_id")
    val pairs = Multimodal.nearDupImagesPHash(
        Multimodal.perturbedPHashFixtures(ids), maxDist = 3)
      .filter(col("dist") >= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = pinned.zipWithIndex.collect {
      case (2, k) => (2L * k, 2L * k + 1, 2L) }.toSet
    assert(pairs == want, s"join set drifted: ${pairs.diff(want)} extra, " +
      s"${want.diff(pairs)} missing")
  }

  test("CurateMedia: validate -> per-modality dedup -> index handoff, stage accounting exact") {
    import Multimodal.MediaRow
    import graft.pipelines.CurateMedia
    val corpus = Seq(
      MediaRow(1L, Multimodal.pHashImageFixture(0), "image", 32, 32, 0L),
      MediaRow(2L, Multimodal.pHashImageFixture(1), "image", 32, 32, 0L), // graded dup of 1
      MediaRow(3L, "not-an-image".getBytes, "image", 0, 0, 0L),           // undecodable
      MediaRow(4L, Multimodal.spectralAudioFixture(0), "audio", 0, 0, 0L),
      MediaRow(5L, Multimodal.spectralAudioFixture(1), "audio", 0, 0, 0L), // gain dup of 4
      MediaRow(6L, Multimodal.videoFixture(0), "video", 32, 32, 0L),
      MediaRow(7L, Multimodal.videoFixture(1), "video", 32, 32, 0L),       // trimmed dup of 6
      MediaRow(8L, "just text".getBytes, "text", 0, 0, 0L)).toDS()         // no codec: passes
    val idxRoot = tmp("cmidx")
    val (out, st) = CurateMedia.run(corpus, maxDist = 0,
      indexRoot = Some(idxRoot))
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 6L, 8L), kept.toString)
    // indexed rows: image/audio = 4 pigeonhole blocks per surviving
    // hash; video = the survivor's 6 distinct frame fingerprints
    assert(st.get == CurateMedia.MediaStats(8L, 7L, 4L, 1L, 1L, 1L,
      indexedImages = 4L, indexedAudio = 4L, indexedVideo = 6L),
      st.get.toString)
    val card = CurateMedia.dataCard(spark, st.get).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(card == Map("decode_validate" -> ((8L, 7L)),
      "perceptual_dedup" -> ((7L, 4L)),
      "index_image_phash" -> ((4L, 4L)),
      "index_audio_spectral" -> ((4L, 4L)),
      "index_video_frames" -> ((6L, 6L))), card.toString)
    // the handoff contract: a graded copy arriving in the NEXT batch
    // is dropped against the persisted survivor index — per modality
    val next = Seq(MediaRow(100L, Multimodal.pHashImageFixture(1),
      "image", 32, 32, 0L)).toDS()
    assert(Multimodal.dedupImagesAgainstIndex(next,
      spark.read.parquet(s"$idxRoot/image_phash"), maxDist = 0).count() == 0L)
    val nextVid = Seq(MediaRow(101L, Multimodal.videoFixture(1),
      "video", 32, 32, 0L)).toDS() // trimmed+graded copy of survivor 6
    assert(Multimodal.dedupVideosAgainstIndex(nextVid,
      spark.read.parquet(s"$idxRoot/video_frames")).count() == 0L)
    // stats = false: identical survivors, no counts — and the card of
    // an indexRoot-less run carries no index stages
    val (out2, st2) = CurateMedia.run(corpus, maxDist = 0, stats = false)
    assert(st2.isEmpty)
    assert(out2.select("doc_id").as[Long].collect().toSet == kept)
    val (_, st3) = CurateMedia.run(corpus, maxDist = 0)
    assert(CurateMedia.dataCard(spark, st3.get)
      .select("stage").as[String].collect().toSet ==
      Set("decode_validate", "perceptual_dedup"))
    // eval-set decontamination stage: the benchmark twins screen out
    // the image and video survivors per modality, the card gains the
    // eval_decon row, and the leaked items never reach the handoff
    // indexes (only the clean audio survivor's blocks land)
    val evalSet = Seq(
      MediaRow(900L, Multimodal.pHashImageFixture(1), "image", 32, 32, 0L),
      MediaRow(901L, Multimodal.videoFixture(1), "video", 32, 32, 0L)).toDS()
    val idxRoot2 = tmp("cmidx2")
    val (out4, st4) = CurateMedia.run(corpus, maxDist = 0,
      indexRoot = Some(idxRoot2), evalMedia = Some(evalSet))
    assert(out4.select("doc_id").as[Long].collect().toSet == Set(4L, 8L))
    assert(st4.get.afterDecon == 2L && st4.get.images == 0L &&
      st4.get.audio == 1L && st4.get.video == 0L, st4.get.toString)
    val card4 = CurateMedia.dataCard(spark, st4.get).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(card4("eval_decon") == ((4L, 2L)), card4.toString)
    assert(spark.read.parquet(s"$idxRoot2/image_phash").count() == 0L)
    assert(spark.read.parquet(s"$idxRoot2/video_frames").count() == 0L)
    assert(spark.read.parquet(s"$idxRoot2/audio_spectral").count() == 4L)
  }

  test("media quality scores: flat images score 0 sharpness, audio clipping reads exactly, motion 0 iff frozen and shift-invariant") {
    import Multimodal.MediaRow
    // IMAGE: constant image has zero Laplacian everywhere -> 0.0;
    // the textured fixture scores high; undecodable keeps a null row
    val flatRgb = Array.fill(8 * 8 * 3)(100.toByte)
    val imgs = Seq(
      MediaRow(1L, Multimodal.encodeBmp(8, 8, flatRgb), "image", 8, 8, 0L),
      MediaRow(2L, Multimodal.imageFixture(0), "image", 32, 32, 0L),
      MediaRow(3L, "junk".getBytes, "image", 0, 0, 0L)).toDS()
    val sh = Multimodal.imageSharpness(imgs).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(sh(1L).contains(0.0), sh.toString)
    assert(sh(2L).exists(_.asInstanceOf[Double] > 100.0), sh.toString)
    assert(sh(3L).isEmpty, sh.toString)
    // AUDIO: crafted clip — two silent samples, two full-scale ones:
    // peak = 32768, clip_frac exactly 0.5, rms = the exact-int sqrt
    val loud = Multimodal.encodeWavSamples(8000, 1,
      Array[Short](0, 0, 32767, -32768))
    val silent = Multimodal.encodeWavSamples(8000, 1, Array[Short](0, 0, 0))
    val stats = Multimodal.audioStats(
        Seq(MediaRow(1L, loud, "audio", 0, 0, 0L),
          MediaRow(2L, silent, "audio", 0, 0, 0L),
          MediaRow(3L, "junk".getBytes, "audio", 0, 0, 0L)).toDS())
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    val wantRms = math.rint(math.sqrt(
      (32767.0 * 32767 + 32768.0 * 32768) / 4) * 1e6) / 1e6
    assert(stats(1L) == ((Some(4), Some(32768), Some(wantRms), Some(0.5))),
      stats.toString)
    assert(stats(2L) == ((Some(3), Some(0), Some(0.0), Some(0.0))), stats.toString)
    assert(stats(3L) == ((None, None, None, None)), stats.toString)
    // VIDEO: the planted static clip reads motion EXACTLY 0, the
    // dynamic one far above; grading every frame +30 (unclamped)
    // leaves motion unchanged — the diffs are shift-invariant
    val vids = Seq(
      MediaRow(0L, Multimodal.motionVideoFixture(0), "video", 32, 32, 0L),
      MediaRow(1L, Multimodal.motionVideoFixture(1), "video", 32, 32, 0L),
      MediaRow(2L, "junk".getBytes, "video", 0, 0, 0L)).toDS()
    val mo = Multimodal.videoMotion(vids).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(mo(0L) == ((Some(6), Some(0.0))), mo.toString)
    assert(mo(1L)._1.contains(6) &&
      mo(1L)._2.exists(_.asInstanceOf[Double] > 10.0), mo.toString)
    assert(mo(2L) == ((None, None)), mo.toString)
    def shifted(payload: Array[Byte], d: Int): Array[Byte] = {
      val frames = Multimodal.parseBmpSequence(payload).get
      val out = new java.io.ByteArrayOutputStream()
      frames.foreach { f =>
        val (w, h, rgb) = Multimodal.decodeBmpPixels(f).get
        out.write(Multimodal.encodeBmp(w, h, rgb.map(b => (b + d).toByte)))
      }
      out.toByteArray
    }
    val graded = Seq(MediaRow(10L,
      shifted(Multimodal.motionVideoFixture(1), 30), "video", 32, 32, 0L)).toDS()
    assert(Multimodal.videoMotion(graded).collect().head.get(2) ==
      mo(1L)._2.get)
  }

  test("CurateMedia quality gate: blurred/clipped/frozen rows drop before dedup; card gains the quality_gate row") {
    import Multimodal.MediaRow
    import graft.pipelines.CurateMedia
    val flatRgb = Array.fill(8 * 8 * 3)(100.toByte)
    val clipped = Multimodal.encodeWavSamples(8000, 1,
      Array[Short](32767, -32768, 32767, -32768))
    val corpus = Seq(
      MediaRow(1L, Multimodal.imageFixture(0), "image", 32, 32, 0L),   // sharp
      MediaRow(2L, Multimodal.encodeBmp(8, 8, flatRgb), "image", 8, 8, 0L), // flat -> gate drops
      MediaRow(3L, Multimodal.audioFixture(0), "audio", 0, 0, 0L),     // clean
      MediaRow(4L, clipped, "audio", 0, 0, 0L),                        // clipped -> drops
      MediaRow(5L, Multimodal.motionVideoFixture(1), "video", 32, 32, 0L), // dynamic
      MediaRow(6L, Multimodal.motionVideoFixture(0), "video", 32, 32, 0L), // frozen -> drops
      MediaRow(7L, "just text".getBytes, "text", 0, 0, 0L)).toDS()     // no gate: passes
    val (out, st) = CurateMedia.run(corpus,
      minSharpness = Some(1.0), maxClipFrac = Some(0.1), minMotion = Some(1.0))
    assert(out.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L, 7L))
    assert(st.get.afterQuality == 4L, st.get.toString)
    val card = CurateMedia.dataCard(spark, st.get).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(card("quality_gate") == ((7L, 4L)), card.toString)
    assert(card("perceptual_dedup") == ((4L, 4L)), card.toString)
    // gate off: everything decodable reaches dedup, no gate row
    val (_, st2) = CurateMedia.run(corpus)
    assert(st2.get.afterQuality == -1L)
    assert(!CurateMedia.dataCard(spark, st2.get)
      .select("stage").as[String].collect().contains("quality_gate"))
  }

  test("fixture corpora plant 2k/2k+1 near-dup pairs within 3 bits (p33/p34 contract)") {
    // the oracle-checked gate queries rely on the bump reaching only
    // the documented grid cells / energy windows — pin that here so a
    // fixture edit that breaks the pigeonhole bound fails fast
    val ids = (0L until 20L).toDF("doc_id")
    val imgPairs = Multimodal.nearDupImages(Multimodal.imageFixtures(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val audPairs = Multimodal.nearDupAudio(Multimodal.audioFixtures(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    (0L until 10L).foreach { k =>
      assert(imgPairs.contains((2 * k, 2 * k + 1)),
        s"image pair ${2 * k}/${2 * k + 1} missing: $imgPairs")
      assert(imgPairs((2 * k, 2 * k + 1)) <= 3)
      assert(audPairs.contains((2 * k, 2 * k + 1)),
        s"audio pair ${2 * k}/${2 * k + 1} missing: $audPairs")
      assert(audPairs((2 * k, 2 * k + 1)) <= 3)
    }
  }
}
