package graft

import org.apache.spark.sql.functions._
import graft.ops.{DecodedMedia, MediaMeta, MediaRecord, Multimodal}

class MultimodalSpec extends SparkSpec {

  private val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, 1, 2, 3)
  private val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte, 9, 9)
  private val wav = "RIFF1234WAVEfmt ".getBytes("UTF-8")
  private val junk = "hello world this is not media".getBytes("UTF-8")

  private def records = {
    import spark.implicits._
    Seq(
      MediaRecord(1L, "image", png),
      MediaRecord(2L, "image", jpeg),
      MediaRecord(3L, "audio", wav),
      MediaRecord(4L, "image", junk)).toDS()
  }

  test("sniffFormat detects container magic bytes") {
    Multimodal.sniffFormat(png) shouldBe "png"
    Multimodal.sniffFormat(jpeg) shouldBe "jpeg"
    Multimodal.sniffFormat(wav) shouldBe "wav"
    Multimodal.sniffFormat(junk) shouldBe "unknown"
    // RIFF is a container family — only the WAVE form type is audio.
    Multimodal.sniffFormat("RIFF1234AVI LIST".getBytes("UTF-8")) shouldBe "unknown"
    Multimodal.sniffFormat("RIFF1234WEBPVP8 ".getBytes("UTF-8")) shouldBe "unknown"
  }

  test("decodeFeatures yields typed metadata + fixed-width features, deterministically") {
    val out = Multimodal.decodeFeatures(records, batchSize = 2)
      .collect().map(d => d.media_id -> d).toMap
    // a recognized container with a CORRUPT payload quarantines:
    // format sniffed, decode failed, zero features
    out(1L).meta.format shouldBe "png"
    out(1L).meta.valid shouldBe false
    out(1L).meta.n_bytes shouldBe png.length.toLong
    out(1L).features.forall(_ == 0.0f) shouldBe true
    out(4L).meta.format shouldBe "unknown"
    out(4L).meta.valid shouldBe false
    out.values.foreach(_.features.length shouldBe Multimodal.NFeatures)
    // Deterministic across runs (every path is pure):
    val again = Multimodal.decodeFeatures(records, batchSize = 3)
      .collect().map(d => d.media_id -> d.features.toSeq).toMap
    out.map { case (k, v) => k -> v.features.toSeq } shouldBe again
  }

  test("decoded output is a queryable DataFrame with nested meta schema") {
    import spark.implicits._
    val mixed = Seq(
      MediaRecord(1L, "image", Multimodal.synthPng(1L)),
      MediaRecord(2L, "audio", Multimodal.synthWav(2L)),
      MediaRecord(3L, "video", Multimodal.synthVideo(3L)),
      MediaRecord(4L, "image", junk)).toDS()
    val df = Multimodal.decodeFeatures(mixed).toDF()
    df.select(col("media_id"), col("meta.format"), col("meta.n_bytes"))
      .filter(col("meta.valid"))
      .count() shouldBe 3 // the three REAL decodes; unknown bytes are not valid
  }

  test("decodeDispatch routes every recognized container to its real " +
    "codec; the stub runs ONLY for unknown magic bytes") {
    // image: meta is the true geometry, features are the real thumbnail
    val (im, imF) = Multimodal.decodeDispatch(Multimodal.synthPng(7L))
    im shouldBe MediaMeta("png", Multimodal.SynthW, Multimodal.SynthH,
      Multimodal.synthPng(7L).length.toLong, valid = true)
    val Some((w, h, rgb)) = Multimodal.decodeImage(Multimodal.synthPng(7L))
    val thumb = Multimodal.grayThumb(w, h, rgb, Multimodal.ThumbW, Multimodal.ThumbH)
    imF.toSeq shouldBe (0 until Multimodal.NFeatures).map(k => thumb(k) / 255.0f)
    // audio: real sample decode drives the window features
    val (au, auF) = Multimodal.decodeDispatch(Multimodal.synthWav(7L))
    au.format shouldBe "wav"
    au.valid shouldBe true
    val s0 = (0 until 4).map(t => math.abs(Multimodal.synthSample(7L, t))).sum
    auF(0) shouldBe s0 / 131072.0f
    // video: demux + frame-0 decode
    val (vi, viF) = Multimodal.decodeDispatch(Multimodal.synthVideo(7L))
    vi.format shouldBe "gvi1"
    vi.valid shouldBe true
    vi.width shouldBe Multimodal.SynthW
    viF.exists(_ != 0.0f) shouldBe true
    // recognized-but-corrupt: quarantined, never the stub's pseudo-dims
    val (bad, badF) = Multimodal.decodeDispatch(png)
    bad.format shouldBe "png"
    bad.valid shouldBe false
    bad.width shouldBe 0
    badF.forall(_ == 0.0f) shouldBe true
    // unknown magic: EXACTLY the stub, bit for bit
    val (um, umF) = Multimodal.decodeDispatch(junk)
    val (sm, smF) = Multimodal.decodeStub(junk)
    um shouldBe sm
    umF.toSeq shouldBe smF.toSeq
  }

  test("hostile JPEG payloads — truncated stream, CMYK-shaped SOF, magic-" +
    "only garbage — quarantine as valid=false instead of killing the task") {
    val jpeg = Multimodal.encodeJpeg(Multimodal.synthPng(7L)).get
    // 1. truncated mid-entropy-stream (the kill-a-download case)
    val truncated = jpeg.take(jpeg.length / 3)
    // 2. SOF0 component count patched 3 -> 4: the CMYK-shaped stream
    //    javax.imageio's JPEG reader is known to reject
    val sofCorrupt = jpeg.clone()
    val sof = sofCorrupt.indices.dropRight(9).find(i =>
      (sofCorrupt(i) & 0xff) == 0xff && (sofCorrupt(i + 1) & 0xff) == 0xc0)
    sof.isDefined shouldBe true // baseline JPEG: SOF0 must be present
    sofCorrupt(sof.get + 9) = 4
    // 3. JPEG magic followed by nothing decodable at all
    val magicOnly = Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte) ++ new Array[Byte](60)
    for (hostile <- Seq(truncated, sofCorrupt, magicOnly)) {
      Multimodal.sniffFormat(hostile) shouldBe "jpeg"
      // must not throw — one corrupt blob must never kill a scan task
      val (meta, feats) = Multimodal.decodeDispatch(hostile)
      meta.format shouldBe "jpeg"
      meta.valid shouldBe false
      meta.width shouldBe 0
      feats.forall(_ == 0.0f) shouldBe true
    }
    // end-to-end through the batched Dataset path, mixed with healthy
    // records: the hostile rows land as quarantine rows, the healthy
    // ones decode
    import spark.implicits._
    val rows = Multimodal.decodeFeatures(Seq(
      MediaRecord(1L, "image", Multimodal.synthPng(1L)),
      MediaRecord(2L, "image", truncated),
      MediaRecord(3L, "image", sofCorrupt),
      MediaRecord(4L, "image", magicOnly)).toDS(), batchSize = 2)
      .collect().map(m => m.media_id -> m.meta.valid).toMap
    rows shouldBe Map(1L -> true, 2L -> false, 3L -> false, 4L -> false)
  }

  test("balanceBySize spreads payloads without clustering the largest together") {
    import spark.implicits._
    // 32 large payloads + 128 tiny ones: size-range partitioning would
    // cluster ALL the large ones into the top partition; hash spreading
    // must distribute them across partitions.
    val rows = (0 until 32).map(i => MediaRecord(i.toLong, "video", Array.fill(10000)(i.toByte))) ++
      (32 until 160).map(i => MediaRecord(i.toLong, "image", Array.fill(10)(i.toByte)))
    val df = rows.toDS().toDF()
    val balanced = Multimodal.balanceBySize(df, "content", 4)
    balanced.count() shouldBe 160
    val largePerPartition = balanced
      .select(spark_partition_id().as("p"),
        org.apache.spark.sql.functions.length(col("content")).as("sz"))
      .filter(col("sz") >= 10000)
      .groupBy("p").count().collect().map(_.getLong(1))
    largePerPartition.max should be < 32L // never all in one partition
    largePerPartition.length should be > 1 // spread over multiple partitions
    // The spread key hashes the payload, not a position-dependent id:
    // re-evaluating the same frame (a task-retry stand-in) must land
    // every row in the same partition both times.
    val assign = balanced
      .select(col("media_id"), spark_partition_id().as("p"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val again = Multimodal.balanceBySize(df, "content", 4)
      .select(col("media_id"), spark_partition_id().as("p"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assign shouldBe again
  }

  test("sampleFrames splits payloads into evenly spaced slices") {
    val frames = Multimodal.sampleFrames(records, nFrames = 4)
    val byId = frames.collect().groupBy(_.getLong(0))
    byId(3L).length shouldBe 4
    // Frame bytes reassemble a prefix of the original payload.
    val joined = byId(3L).sortBy(_.getInt(1)).flatMap(_.getAs[Array[Byte]](2))
    wav.take(joined.length).toSeq shouldBe joined.toSeq
  }

  test("resizeMeta caps the long side, preserves aspect, never upscales") {
    import spark.implicits._
    val decoded = Seq(
      DecodedMedia(1L, "img", MediaMeta("png", 1000, 500, 9L, valid = true), Array(0f)),
      DecodedMedia(2L, "img", MediaMeta("png", 100, 50, 9L, valid = true), Array(0f)),
      DecodedMedia(3L, "img", MediaMeta("png", 300, 900, 9L, valid = true), Array(0f))
    ).toDS()
    val out = Multimodal.resizeMeta(decoded, maxSide = 256)
      .collect().map(m => m.media_id -> (m.meta.width, m.meta.height)).toMap
    out(1L) shouldBe ((256, 128)) // scaled by 256/1000, aspect 2:1 kept
    out(2L) shouldBe ((100, 50))  // already within bounds: untouched
    out(3L) shouldBe ((85, 256))  // portrait: height is the bound side
  }

  // ---- REAL image decode + perceptual hashing -------------------------

  test("cross-codec: a JPEG re-encode dHashes within 3 bits of its PNG " +
    "original; different bases stay far; the banded dedup recovers every twin") {
    import spark.implicits._
    def hashOf(b: Array[Byte]): (Long, Long) = {
      val Some((w, h, rgb)) = Multimodal.decodeImage(b)
      Multimodal.dHashHalves(Multimodal.grayThumb(w, h, rgb, 9, 8))
    }
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    // twin distances: measured 0–3 on the JDK codec at quality 0.9 —
    // ≤ 3 is what makes the 4×16-bit banding recovery DETERMINISTIC
    // (pigeonhole: 3 flipped bits cannot touch all 4 bands). If a JDK
    // change shifts this, this assertion fails before the gate does.
    // Sweep ONE id per joint pixel-content residue class — synthRgb is
    // fully determined by (m % 37, m % SynthW, m % 16): base colors,
    // hot-pixel x, hot-pixel y ((7m) % 16 depends on m % 16) — over
    // every class the GATED corpus (doc_id % 5 = 0, both gate scale
    // factors: sf0.01 ids ≤ 499, sf0.1 ids ≤ 4999) actually contains,
    // and assert per class the TWO conditions the banded recovery
    // actually needs: exact distance ≤ the q_m5 threshold (4) AND at
    // least one untouched 16-bit band. ≤ 3 flips guarantee the band
    // by pigeonhole; the sweep found exactly ONE gated class (id 3470)
    // at distance 4, where the guarantee is this measured band share —
    // which is why the bound must be pinned on the corpus, not a
    // sampled prefix (ids 0–119 all sit at ≤ 3 and hid this). A JDK
    // codec drift now fails HERE before the gate does.
    val classes = (0L until 5000L by 5L)
      .groupBy(m => (m % 37, m % Multimodal.SynthW, m % 16))
      .values.map(_.head).toSeq.sorted
    classes.size shouldBe 1000 // ids < 5328 are pairwise distinct classes
    def bandsOf(h: (Long, Long)): Seq[Long] =
      Seq(h._2 % 65536, h._2 / 65536, h._1 % 65536, h._1 / 65536)
    val twins = classes.map { m =>
      val png = Multimodal.synthPng(m)
      val (hp, hj) = (hashOf(png), hashOf(Multimodal.encodeJpeg(png, 0.9f).get))
      (m, ham(hp, hj), bandsOf(hp).zip(bandsOf(hj)).count { case (a, b) => a == b })
    }
    twins.filter(_._2 > 3).map(_._1) shouldBe Seq(3470L) // the one known d=4 class
    twins.foreach { case (m, d, sharedBands) =>
      withClue(s"id $m: ") {
        d should be <= 4          // the q_m5 verify threshold
        sharedBands should be >= 1 // candidate generation finds the pair
      }
    }
    // different bases are nowhere near the threshold
    ham(hashOf(Multimodal.synthPng(0L)),
      hashOf(Multimodal.encodeJpeg(Multimodal.synthPng(3L), 0.9f).get)) should be > 4
    // end-to-end through the BANDED near-dup operator: every twin pair
    // must come back at the q_m5 threshold
    val recs = (0L until 40L).flatMap { m =>
      val png = Multimodal.synthPng(m)
      Seq(MediaRecord(m, "png", png),
        MediaRecord(1000000L + m, "jpeg", Multimodal.encodeJpeg(png, 0.9f).get))
    }.toDS()
    val pairs = Multimodal.imageNearDupPairs(
        Multimodal.imageDHash(recs).toDF(), maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 40L).foreach { m =>
      pairs should contain((m, 1000000L + m))
    }
  }

  test("PNG encode→decode round-trip is pixel-exact (real ImageIO codec)") {
    for (m <- Seq(0L, 5L, 41L, 123L)) {
      val Some((w, h, rgb)) = Multimodal.decodeImage(Multimodal.synthPng(m))
      w shouldBe Multimodal.SynthW
      h shouldBe Multimodal.SynthH
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = Multimodal.synthRgb(m, x, y)
        val p = rgb(y * w + x)
        (((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)) shouldBe ((r, g, b))
      }
    }
    // Undecodable bytes rout to None, never throw.
    Multimodal.decodeImage("not an image".getBytes("UTF-8")) shouldBe None
    // A RECOGNIZED container with corrupt payload (truncated PNG: magic
    // intact, pixel data gone) makes ImageIO THROW rather than return
    // null — that route must also land in the quarantine.
    val truncated = java.util.Arrays.copyOfRange(Multimodal.synthPng(7L), 0, 10)
    Multimodal.sniffFormat(truncated) shouldBe "png"
    Multimodal.decodeImage(truncated) shouldBe None
  }

  test("planted near-identical images pair up; unrelated bases do not collide as 0-distance") {
    import spark.implicits._
    // Ids m and m+37 share a synth base (one perturbed pixel each) —
    // perceptual near-dups. Ids in different bases differ everywhere.
    val ids = (0L until 74L).toDS()
    val recs = ids.map(m => MediaRecord(m, "image", Multimodal.synthPng(m)))
    val hashes = Multimodal.imageDHash(recs).toDF()
    hashes.count() shouldBe 74L
    val pairs = Multimodal.imageNearDupPairs(hashes, maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // Every same-base pair is Hamming-close: each member's single
    // perturbed pixel touches one thumb cell = at most 2 dHash bits.
    for (m <- 0L until 37L) {
      val ham = pairs.get((m, m + 37L))
      withClue(s"pair ($m, ${m + 37})") { ham should not be empty }
      ham.get should be <= 4
    }
    // dHashes are not degenerate: distinct bases produce many distinct
    // hashes (a constant-hash bug would pair everything at distance 0).
    hashes.select("dh_hi", "dh_lo").distinct().count() should be >= 30L
  }

  test("DCT pHash: fixed-point spectrum matches a direct recompute; near-dups stay close") {
    import spark.implicits._
    val ids = (0L until 74L).toDS()
    val recs = ids.map(m => MediaRecord(m, "image", Multimodal.synthPng(m)))
    val hashes = Multimodal.imagePHash(recs).toDF()
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    // Independent recompute straight from the pixel generator (no codec):
    // the Dataset path must agree bit-for-bit.
    for (m <- Seq(0L, 13L, 50L)) {
      val rgb = Array.tabulate(Multimodal.SynthH * Multimodal.SynthW) { i =>
        val (r, g, b) = Multimodal.synthRgb(m, i % Multimodal.SynthW, i / Multimodal.SynthW)
        (r << 16) | (g << 8) | b
      }
      val direct = Multimodal.pHashHalves(Multimodal.grayThumb(
        Multimodal.SynthW, Multimodal.SynthH, rgb, Multimodal.PThumb, Multimodal.PThumb))
      hashes(m) shouldBe direct
    }
    // Same-base plants (one perturbed pixel) move few spectrum signs;
    // the hash family would be useless if a 1-px edit rewrote it.
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val nearDists = (0L until 37L).map(m => ham(hashes(m), hashes(m + 37L)))
    all(nearDists) should be <= 12
    // ...while the spectrum is not degenerate across bases.
    hashes.values.toSet.size should be >= 30
  }

  // ---- REAL audio decode + energy fingerprinting ----------------------

  test("WAV encode→decode round-trip is sample-exact (real AudioSystem codec)") {
    for (m <- Seq(0L, 7L, 41L, 200L)) {
      val Some((rate, channels, samples)) = Multimodal.decodeWav(Multimodal.synthWav(m))
      rate shouldBe Multimodal.AudioRate
      channels shouldBe 1
      samples.length shouldBe Multimodal.AudioN
      for (t <- 0 until Multimodal.AudioN)
        withClue(s"media $m sample $t") {
          samples(t) shouldBe Multimodal.synthSample(m, t)
        }
    }
    // Undecodable bytes route to None, never throw.
    Multimodal.decodeWav("not audio".getBytes("UTF-8")) shouldBe None
    // The synthWav container really is WAV — the sniffer agrees.
    Multimodal.sniffFormat(Multimodal.synthWav(3L)) shouldBe "wav"
  }

  test("planted near-identical audio pairs up; fingerprints are not degenerate") {
    import spark.implicits._
    // Ids m and m+41 share a waveform base (one perturbed window each,
    // ≤ 2 fingerprint bits) — perceptual near-dups within Hamming ≤ 4.
    val ids = (0L until 82L).toDS()
    val recs = ids.map(m => MediaRecord(m, "audio", Multimodal.synthWav(m)))
    val fps = Multimodal.audioFingerprint(recs)
    fps.count() shouldBe 82L
    val pairs = Multimodal.audioNearDupPairs(fps, maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    for (m <- 0L until 41L) {
      val ham = pairs.get((m, m + 41L))
      withClue(s"pair ($m, ${m + 41})") { ham should not be empty }
      ham.get should be <= 4
    }
    fps.toDF().select("fp_hi", "fp_lo").distinct().count() should be >= 30L
  }

  // ---- video container demux + frame hashing --------------------------

  test("video demux round-trips frames byte-exactly and salvages truncated containers") {
    val m = 15L
    val vid = Multimodal.synthVideo(m)
    val frames = Multimodal.demuxVideo(vid)
    frames.map(_._1) shouldBe (0 until Multimodal.VideoFrames)
    for ((f, png) <- frames)
      png.toSeq shouldBe Multimodal.synthPng(Multimodal.videoFrameImageId(m, f)).toSeq
    // Foreign container → no frames, no throw.
    Multimodal.demuxVideo("RIFF1234WAVEfmt ".getBytes("UTF-8")) shouldBe Nil
    // Truncated mid-frame → the fully-parsed prefix survives (a damaged
    // file must not kill the scan task OR lose its good frames).
    val cut = java.util.Arrays.copyOfRange(vid, 0, vid.length - 10)
    val salvaged = Multimodal.demuxVideo(cut)
    salvaged.length shouldBe (Multimodal.VideoFrames - 1)
    for ((f, png) <- salvaged)
      png.toSeq shouldBe Multimodal.synthPng(Multimodal.videoFrameImageId(m, f)).toSeq
  }

  test("videoFrameHashes samples every k-th frame; same-base videos share frames") {
    import spark.implicits._
    // Videos 5·m so bases (m mod 29) repeat: 10 and 150 quite apart.
    val ids = Seq(0L, 5L, 10L, 145L, 150L, 155L).toDS()
    val recs = ids.map(m => MediaRecord(m, "video", Multimodal.synthVideo(m)))
    val fh = Multimodal.videoFrameHashes(recs)
    // stride 2 over 6 frames = 3 sampled frames per video.
    fh.groupBy("media_id").count().collect()
      .foreach(_.getLong(1) shouldBe 3L)
    fh.select("frame_no").distinct().collect()
      .map(_.getInt(0)).sorted shouldBe Array(0, 2, 4)
    // Same base (0, 145 both ≡ 0 mod 29): ≥ 2 shared frame hashes; the
    // perturbed position is unique per video so at most one differs.
    val pairs = Multimodal.videoNearDupPairs(fh, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pairs.keySet should contain((0L, 145L))
    pairs((0L, 145L)) should be >= 2L
  }

  test("chooseHammingBands: exact truth via pigeonhole banding, weighted " +
    "value-collapse, both-axes floors, cheapest-feasible tie to fewer bands, " +
    "zero-truth never certifies, malformed configs refuse") {
    import spark.implicits._
    // A1-A2: Hamming 2 (true at maxDist 4); B1=B2: one exact-dup family
    // (within-group pair — candidate, verified, true in EVERY config);
    // C: far from everything. Wide 2-band chunks separate A from B; the
    // narrower 16/8-bit bandings collide A and B through shared zero
    // chunks, so precision drops as bands rise — the S-curve the chooser
    // must price.
    val hashes = Seq(
      (1L, 5L, 7L), (2L, 5L, 4L),                  // A1, A2
      (7L, 9L, 9L), (8L, 9L, 9L),                  // B1, B2 (identical)
      (9L, 0xF0F0F0F0L, 0x0F0F0F0FL))              // C
      .toDF("media_id", "dh_hi", "dh_lo")
    def rows(prec: Long, rec: Long) =
      Multimodal.chooseHammingBands(hashes, Seq(2, 4, 8), maxDist = 4,
          sampleMod = 1, precisionFloorPpm = prec, recallFloorPpm = rec)
        .orderBy("n_bands").collect()
        .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(7), r.getBoolean(8)))
    // hand-computed: truth = {A1A2, B-within} = 2 in every config;
    // 2 bands sees 2 candidates; 4/8 bands add the A-B zero-chunk noise
    // at MEMBER level (B is an m=2 family: each A-B rep pair is 2
    // member pairs — the weighted value-collapse contract), so
    // candidates = within 1 + A1A2 1 + 2·(A1B, A2B) = 6
    rows(0L, 0L) shouldBe Array(
      (2, 2L, 2L, 2L, true, true),   // cheapest feasible wins
      (4, 6L, 2L, 2L, true, false),
      (8, 6L, 2L, 2L, true, false))
    // precision floor 600000 keeps only the 2-band split feasible
    val strict = rows(600000L, 900000L)
    strict.map(t => t._5) shouldBe Array(true, false, false)
    strict.map(t => t._6) shouldBe Array(true, false, false)
    // zero-truth sample: every config infeasible — no vacuous evidence
    val far = Seq((1L, 5L, 7L), (9L, 0xF0F0F0F0L, 0x0F0F0F0FL))
      .toDF("media_id", "dh_hi", "dh_lo")
    Multimodal.chooseHammingBands(far, Seq(2, 4), maxDist = 4, sampleMod = 1,
        precisionFloorPpm = 0L, recallFloorPpm = 0L)
      .collect().foreach { r =>
        r.getBoolean(7) shouldBe false
        r.getBoolean(8) shouldBe false
      }
    // malformed configs refuse: odd band count, non-divisor, deep maxDist
    intercept[IllegalArgumentException](
      Multimodal.chooseHammingBands(hashes, Seq(3), 4, 1, 0L, 0L))
    intercept[IllegalArgumentException](
      Multimodal.chooseHammingBands(hashes, Seq(6), 4, 1, 0L, 0L))
    intercept[IllegalArgumentException](
      Multimodal.chooseHammingBands(hashes, Seq(4), 16, 1, 0L, 0L))
  }

  test("bandedHammingPairsAutoBudgeted derives the mod from the corpus count, " +
    "matches the explicit-mod auto path, and the armed sampleRepCap refuses " +
    "hash-skew overshoot") {
    // the budgeted auto path: bandedHammingPairsAuto at a SampleGate.Budget
    import spark.implicits._
    val hashes = Seq((1L, 5L, 7L), (2L, 5L, 4L), (7L, 9L, 9L), (8L, 9L, 9L),
        (9L, 0xF0F0F0F0L, 0x0F0F0F0FL))
      .toDF("media_id", "dh_hi", "dh_lo")
    val budgeted = Multimodal.bandedHammingPairsAuto(hashes,
      maxDist = 4, bandConfigs = Seq(2, 4), gate = graft.ops.SampleGate.Budget(40L),
      precisionFloorPpm = 0L, recallFloorPpm = 0L)
    // slacked target 21 >= the 5-row corpus -> derived mod 1
    budgeted.select("sample_mod").distinct().collect()
      .map(_.getLong(0)).toSeq shouldBe Seq(1L)
    val manual = Multimodal.bandedHammingPairsAuto(hashes, maxDist = 4,
      bandConfigs = Seq(2, 4), gate = graft.ops.SampleGate.Mod(1),
      precisionFloorPpm = 0L, recallFloorPpm = 0L)
    budgeted.select("n_bands", "ia", "ib").collect().map(_.toSeq).toSet shouldBe
      manual.select("n_bands", "ia", "ib").collect().map(_.toSeq).toSet
    // skew: 40 ids ALL passing the gate of the mod the budget derives
    // (chooseSampleMod(40, 36) = 3) — the derived mod admits every
    // row, above the budget that derived it
    val gateIds = Iterator.from(1).map(_.toLong)
      .filter(i => graft.functions.Hash60Impl.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(i.toString)) % 3 == 0)
      .take(40).toSeq
    val skew = gateIds.map(i => (i, i * 17L, i * 31L))
      .toDF("media_id", "dh_hi", "dh_lo")
    val boom = intercept[IllegalArgumentException](
      Multimodal.bandedHammingPairsAuto(skew, maxDist = 4,
        bandConfigs = Seq(2, 4), gate = graft.ops.SampleGate.Budget(36L),
        precisionFloorPpm = 0L, recallFloorPpm = 0L))
    boom.getMessage should include("sampleRepCap")
  }

  test("bandedHammingPairs exact-dup collapse preserves the pair relation on " +
    "a hash set with large exact-copy families") {
    import spark.implicits._
    // A/A2 at Hamming 2; B shares A's hi chunks but sits far (a candidate
    // the verify must drop); C/D at Hamming 1; E unrelated. Families of
    // 30/25/20/15 exact copies, D and E singletons.
    val bases = Seq(
      (1L, 0x12345678L, 0x0000FFFFL, 30), (2L, 0x12345678L, 0x0000FFFCL, 25),
      (3L, 0x12345678L, 0xABCD0000L, 20), (4L, 0x0F0F0F0FL, 0x70F0F0F0L, 15),
      (5L, 0x0F0F0F0FL, 0x70F0F0F1L, 1), (6L, 0x55555555L, 0x2AAAAAAAL, 1))
    val hashes = (for {
      (b, hi, lo, n) <- bases
      copy <- 0 until n
    } yield (b * 1000L + copy, hi, lo)).toDF("media_id", "dh_hi", "dh_lo")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
    for (nb <- Seq(4, 8)) {
      val fixed = pairs(Multimodal.bandedHammingPairs(hashes, maxDist = 4, nBands = nb))
      // naive reference: band EVERY row (no collapse), all pairs inside
      // each (band, chunk) bucket, distinct, Hamming filter
      val w = 64 / nb
      val naive = pairs(hashes
        .withColumn("b", explode(sequence(lit(0), lit(nb - 1))))
        .withColumn("chunk", expr(
          s"""CASE WHEN b < ${nb / 2} THEN (dh_lo >> ($w * b)) & ${(1L << w) - 1}
             |ELSE (dh_hi >> ($w * (b - ${nb / 2}))) & ${(1L << w) - 1} END""".stripMargin))
        .groupBy(col("b"), col("chunk"))
        .agg(sort_array(collect_list(struct(col("media_id"), col("dh_hi"),
          col("dh_lo")))).as("ms"))
        .select(explode(expr(
          """flatten(transform(ms,
            |  (x, i) -> transform(slice(ms, i + 2, size(ms)),
            |            y -> named_struct('ia', x.media_id, 'ib', y.media_id,
            |                              'hamming', bit_count(x.dh_hi ^ y.dh_hi) +
            |                                         bit_count(x.dh_lo ^ y.dh_lo)))))"""
            .stripMargin)).as("p"))
        .select(col("p.ia"), col("p.ib"), col("p.hamming").cast("int").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 4))
      withClue(s"nBands=$nb: ") {
        fixed.length shouldBe fixed.toSet.size               // no duplicate pairs
        fixed.toMap shouldBe naive.toMap
        // every exact-copy family's all-pairs at Hamming 0
        fixed.count { case ((a, b), h) => a / 1000L == b / 1000L && h == 0 } shouldBe
          Seq(30, 25, 20, 15).map(n => n * (n - 1) / 2).sum
      }
    }
  }

  test("chooseHammingBands is modality-blind via column-name parameters: " +
    "the audio fp_hi/fp_lo schema tunes without a rename, bit-identical " +
    "to the renamed default-schema call") {
    import spark.implicits._
    val audio = Seq((1L, 5L, 7L), (2L, 5L, 4L), (7L, 9L, 9L), (8L, 9L, 9L),
        (9L, 0xF0F0F0F0L, 0x0F0F0F0FL))
      .toDF("media_id", "fp_hi", "fp_lo")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("n_bands").collect().map(_.toSeq).toSeq
    key(Multimodal.chooseHammingBands(audio, Seq(2, 4, 8), maxDist = 4,
      sampleMod = 1, precisionFloorPpm = 0L, recallFloorPpm = 0L,
      hiCol = "fp_hi", loCol = "fp_lo")) shouldBe
      key(Multimodal.chooseHammingBands(
        audio.select($"media_id", $"fp_hi".as("dh_hi"), $"fp_lo".as("dh_lo")),
        Seq(2, 4, 8), maxDist = 4, sampleMod = 1,
        precisionFloorPpm = 0L, recallFloorPpm = 0L))
  }
}
