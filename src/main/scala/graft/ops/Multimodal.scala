package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Output of the REAL image decode + perceptual-hash stage: decoded
  * dimensions plus the 64-bit dHash split into two non-negative 32-bit
  * halves (hi = bits 32..63, lo = bits 0..31) so the value survives
  * BIGINT arithmetic in any engine without sign traps at bit 63.
  */
case class ImageHash(media_id: Long, width: Int, height: Int,
                     dh_hi: Long, dh_lo: Long)

/** Output of the REAL audio decode + fingerprint stage: decoded stream
  * properties plus the 63-bit energy-gradient fingerprint split into
  * two non-negative halves (hi = bits 32..62, lo = bits 0..31) — the
  * same sign-safe layout as [[ImageHash]].
  */
case class AudioHash(media_id: Long, sample_rate: Int, n_samples: Int,
                     fp_hi: Long, fp_lo: Long)

/** Typed metadata extracted by the decode stage. */
case class MediaMeta(format: String, width: Int, height: Int, n_bytes: Long, valid: Boolean)

/** An opaque media row: binary payload + routing info. */
case class MediaRecord(media_id: Long, kind: String, content: Array[Byte])

/** Decode output: metadata + a fixed-width feature vector. */
case class DecodedMedia(media_id: Long, kind: String, meta: MediaMeta, features: Array[Float])

/** Multimodal columns for training-data pipelines: image/audio/video as
  * opaque `binary` columns with typed metadata, decoded / feature-
  * extracted in size-bounded batches via `mapPartitions`.
  *
  * The Spark-side plumbing — schema, Dataset encoders, partition
  * balancing, batch shape — is real and tested, and so are the codecs
  * for every container this environment can decode: `javax.imageio`
  * PNG/JPEG, `javax.sound.sampled` WAV, and the GVI1 frame-container
  * demux (oracle-proven round-trips — q_m4–q_m12, q_m14). The generic
  * feature extractor (`decodeFeatures`) sniff-dispatches to those real
  * codecs (`decodeDispatch`) and falls back to the clearly-marked
  * deterministic STUB (`decodeStub`) ONLY for unknown containers —
  * in production that single fallback is replaced by a JNI/library
  * call without touching the pipeline around it.
  */
object Multimodal {

  // ImageIO's DEFAULT stream cache is FILE-backed: every
  // ImageIO.read(InputStream)/createImageOutputStream call creates,
  // writes, and deletes a temp file under java.io.tmpdir — per record,
  // in the hot decode path, for payloads that already sit in memory as
  // byte arrays. Measured at sf0.1 on a slow-/tmp host epoch this
  // dominated the real-codec gates (q_m4 1.4→6.1 s, q_m10 0.8→4.7 s
  // with ZERO code change); at cluster scale it is per-record disk
  // I/O on every executor for no benefit. The fix is SCOPED, not
  // global: every codec call below wraps its in-memory buffer in an
  // explicit MemoryCache image stream (r14, replacing an earlier
  // object-initializer ImageIO.setUseCache(false) — mutating
  // process-global JVM state on class load would silently retarget
  // co-resident code that relies on file-backed ImageIO streams, e.g.
  // images larger than heap headroom).

  /** Magic-byte sniffing on the binary header (real logic, not stubbed —
    * operates on raw bytes like any container-format detector).
    */
  def sniffFormat(b: Array[Byte]): String =
    if (b.length >= 8 &&
      (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (b.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p') "mp4"
    // RIFF is a container family (AVI, WEBP, ...): only the WAVE form type
    // at bytes 8-11 is audio.
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') "wav"
    // the GVI1 frame container (see demuxVideo): magic + frame count
    else if (b.length >= 8 && b(0) == 'G' && b(1) == 'V' && b(2) == 'I' && b(3) == '1') "gvi1"
    else "unknown"

  /** STUB decode — deterministic fake standing in for the real codec.
    * Derives stable pseudo-dimensions and a 16-float feature vector from
    * the content bytes so tests are reproducible. Replace the body with
    * the real decoder (e.g. ImageIO / ffmpeg JNI) in deployment.
    */
  def decodeStub(b: Array[Byte]): (MediaMeta, Array[Float]) = {
    val fmt = sniffFormat(b)
    var h = 1125899906842597L // deterministic FNV-ish fold over content
    var i = 0
    while (i < b.length) { h = 31 * h + b(i); i += 1 }
    val width = 64 + math.abs(h % 1024).toInt
    val height = 64 + math.abs((h >> 10) % 1024).toInt
    val features = Array.tabulate(16)(k =>
      (math.abs((h >> k) % 1000) / 1000.0f))
    (MediaMeta(fmt, width, height, b.length.toLong, fmt != "unknown"), features)
  }

  /** Balance partitions by payload size so one partition doesn't hold
    * all the 4K videos while another holds thumbnails. Note this must
    * NOT range-partition ON the size column — that would cluster the
    * largest payloads together (equal row counts × largest bytes = the
    * exact skew we're avoiding). Hash-spreading on a size-independent
    * key gives every partition the same expected byte load without a
    * global sort.
    *
    * The spread key is a hash of the payload itself: deterministic
    * under task retry (unlike `monotonically_increasing_id`, whose
    * position-dependent ids change when a lost shuffle block is
    * recomputed — rows would move buckets and the replay could
    * duplicate or drop them, the SPARK-23207 hazard). Byte-identical
    * payloads co-locating is fine: hash values are independent of
    * payload SIZE, so expected byte load per partition stays uniform.
    */
  def balanceBySize(df: DataFrame, contentCol: String, partitions: Int): DataFrame =
    df.repartition(partitions, hash(col(contentCol)))

  /** Number of features every decode path emits (stub and real). */
  val NFeatures = 16

  /** Real image features: the first [[NFeatures]] cells of the 9×8 gray
    * box thumbnail, scaled to [0, 1] by a single float32 division of
    * integer-exact operands — so the value replays bit-identically in
    * any engine (same rule as the stub's f0).
    */
  private def imageFeatures(thumb: Array[Int]): Array[Float] =
    Array.tabulate(NFeatures)(k =>
      if (k < thumb.length) thumb(k) / 255.0f else 0.0f)

  /** Real audio features: per 4-sample window k < [[NFeatures]], the
    * sum of |sample| scaled by the window's maximum possible mass
    * (4·32768) — both operands exact in float32 (< 2^24), one division.
    */
  private def audioFeatures(samples: Array[Int]): Array[Float] = {
    val nw = samples.length / AudioWin
    Array.tabulate(NFeatures) { w =>
      if (w >= nw) 0.0f
      else {
        var s = 0; var i = 0
        while (i < AudioWin) { s += math.abs(samples(w * AudioWin + i)); i += 1 }
        s / 131072.0f
      }
    }
  }

  /** SNIFF-DISPATCHED decode: route each payload to its REAL codec —
    * png/jpeg through ImageIO ([[decodeImage]]), wav through
    * AudioSystem ([[decodeWav]]), gvi1 through the container demux +
    * frame-0 image decode — and fall back to [[decodeStub]] ONLY for
    * unknown containers. A recognized container whose payload fails to
    * decode yields `valid = false` with zero features (the quarantine
    * row — one corrupt blob must never kill a 100 TB scan task).
    * Audio has no spatial dims: meta carries (0, 0) and the signal
    * lives in the features.
    */
  def decodeDispatch(b: Array[Byte]): (MediaMeta, Array[Float]) = {
    val fmt = sniffFormat(b)
    def invalid = (MediaMeta(fmt, 0, 0, b.length.toLong, valid = false),
      new Array[Float](NFeatures))
    fmt match {
      case "png" | "jpeg" =>
        decodeImage(b).fold(invalid) { case (w, h, rgb) =>
          (MediaMeta(fmt, w, h, b.length.toLong, valid = true),
            imageFeatures(grayThumb(w, h, rgb, ThumbW, ThumbH)))
        }
      case "wav" =>
        decodeWav(b).fold(invalid) { case (_, _, samples) =>
          (MediaMeta(fmt, 0, 0, b.length.toLong, valid = true),
            audioFeatures(samples))
        }
      case "gvi1" =>
        val frame0 = demuxVideo(b).headOption.flatMap(f => decodeImage(f._2))
        frame0.fold(invalid) { case (w, h, rgb) =>
          (MediaMeta(fmt, w, h, b.length.toLong, valid = true),
            imageFeatures(grayThumb(w, h, rgb, ThumbW, ThumbH)))
        }
      case _ => decodeStub(b)
    }
  }

  /** Decode + feature-extract in size-bounded batches, routed through
    * [[decodeDispatch]]: real codecs for every recognized container,
    * the deterministic stub only for unknown bytes. The batch shape
    * (`batchSize` records per decode call) mirrors how a vectorized
    * decode API would be fed.
    */
  def decodeFeatures(ds: Dataset[MediaRecord], batchSize: Int = 64): Dataset[DecodedMedia] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // Real deployment: one vectorized decode call per batch here.
        batch.iterator.map { r =>
          val (meta, feats) = decodeDispatch(r.content)
          DecodedMedia(r.media_id, r.kind, meta, feats)
        }
      }
    }
  }

  /** Resize stage: cap each media's pseudo-dimensions to fit inside
    * `maxSide` preserving aspect ratio — the thumbnail/normalize step
    * between decode and feature extraction. The GEOMETRY (integer
    * floor-scaling, no-upscale, aspect preservation) is real and
    * engine-portable; only the pixel resample itself would be the
    * library call, exactly like `decodeStub`. Runs as a typed map over
    * the decoded Dataset — no shuffle, stays in the decode stage's
    * partitioning.
    */
  def resizeMeta(ds: Dataset[DecodedMedia], maxSide: Int): Dataset[DecodedMedia] = {
    import ds.sparkSession.implicits._
    ds.map { m =>
      val w = m.meta.width; val h = m.meta.height
      val side = math.max(w, h)
      if (side <= maxSide || side == 0) m
      else {
        // Floor both dims by the same rational factor; never below 1px.
        val nw = math.max(1, w * maxSide / side)
        val nh = math.max(1, h * maxSide / side)
        m.copy(meta = m.meta.copy(width = nw, height = nh))
      }
    }
  }

  // ---- REAL image decode + perceptual hashing -------------------------
  //
  // Unlike `decodeStub`, everything below runs a genuine codec:
  // `javax.imageio.ImageIO` (JDK-public) encodes and decodes actual PNG
  // bytes. The fixtures are deterministic synthesized images whose pixel
  // values are pure integer functions of (media_id, x, y) — so an oracle
  // can replay the gray/thumbnail/dHash INTEGER math from the id alone,
  // and a hash match proves the PNG encode→decode round-trip preserved
  // every pixel (PNG is lossless; a broken decoder cannot match).

  /** Synth image geometry: 18×16 source, box-averaged to a 9×8 gray
    * thumbnail (exact 2×2 blocks), dHash over the 8×8 adjacent-column
    * comparisons. Small enough that the oracle's per-pixel replay stays
    * cheap at any gate SF.
    */
  val SynthW = 18
  val SynthH = 16
  val ThumbW = 9
  val ThumbH = 8

  /** Deterministic RGB for fixture pixel (x, y) of media `m`. Members of
    * the same base group (m mod 37) share every pixel EXCEPT one
    * per-media perturbed position (x = m mod 18, y = 7·m mod 16) where
    * the red channel shifts by +128 — so same-base images are perceptual
    * near-duplicates (dHash differs in at most a few bits; each
    * perturbation touches one thumb cell = at most 2 adjacent
    * comparisons) while different bases differ everywhere. All integer
    * arithmetic on non-negative values — replayed verbatim in SQL.
    */
  def synthRgb(m: Long, x: Int, y: Int): (Int, Int, Int) = {
    val base = (m % 37).toInt
    val r0 = (31 * base + 7 * x + 13 * y) % 256
    val r = if (x == (m % SynthW) && y == ((m * 7) % SynthH)) (r0 + 128) % 256 else r0
    val g = (17 * base + 11 * x + 5 * y) % 256
    val b = (23 * base + 3 * x + 19 * y) % 256
    (r, g, b)
  }

  /** Encode the synthetic image for `m` as REAL PNG bytes via ImageIO. */
  def synthPng(m: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      SynthW, SynthH, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < SynthH) {
      var x = 0
      while (x < SynthW) {
        val (r, g, b) = synthRgb(m, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try javax.imageio.ImageIO.write(img, "png", ios) finally ios.close()
    bos.toByteArray
  }

  /** Re-encode any decodable image as REAL JPEG bytes via ImageIO at an
    * explicit quality — the cross-codec fixture generator for
    * re-encode dedup (the canonical "same image, different container"
    * case): decode whatever container `bytes` holds, write the pixels
    * back out through the JDK's JPEG codec. Deterministic for a given
    * JDK (same pixels + quality → same bytes). Returns None when the
    * input itself does not decode.
    */
  def encodeJpeg(bytes: Array[Byte], quality: Float = 0.9f): Option[Array[Byte]] =
    decodeImage(bytes).map { case (w, h, rgb) =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, w, h, rgb, 0, w)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(quality)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }

  /** REAL image decode: ImageIO sniffs the container and inflates the
    * pixels. Returns (width, height, packed RGB row-major) or None for
    * undecodable bytes (callers route those to a quarantine side, never
    * throw — one corrupt blob must not kill a 100 TB scan task).
    */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    // ImageIO returns null for unrecognized containers but THROWS for a
    // recognized container with corrupt payload (e.g. a truncated PNG) —
    // both routes must land in the quarantine, so catch as well as map.
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try Option(javax.imageio.ImageIO.read(iis))
      .map { img =>
        val w = img.getWidth; val h = img.getHeight
        (w, h, img.getRGB(0, 0, w, h, null, 0, w))
      }
    catch { case _: Exception => None }
    finally {
      // ImageIO.read(ImageInputStream) closes the stream itself on the
      // success path (JDK behavior), and ImageInputStreamImpl.close()
      // THROWS IOException("closed") on a second close — from a finally
      // that would mask the result, so the belt-and-braces close for
      // the null/unrecognized path must swallow it.
      try iis.close() catch { case _: java.io.IOException => () }
    }
  }

  /** Integer luma: (299·r + 587·g + 114·b) div 1000 — the fixed-point
    * BT.601 weights, floor division, no floats anywhere.
    */
  private def gray(rgb: Int): Int = {
    val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
    (299 * r + 587 * g + 114 * b) / 1000
  }

  /** Box-average gray thumbnail: target cell (tx, ty) covers source
    * x ∈ [tx·w/tw, (tx+1)·w/tw) (integer floor boundaries — exact 2×2
    * blocks at the synth geometry), value = floor(mean gray). The real
    * resample of an image pipeline, in engine-exact integer form.
    */
  def grayThumb(w: Int, h: Int, rgbRowMajor: Array[Int],
                tw: Int, th: Int): Array[Int] = {
    val out = new Array[Int](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = ty * h / th; val y1 = (ty + 1) * h / th
      var tx = 0
      while (tx < tw) {
        val x0 = tx * w / tw; val x1 = (tx + 1) * w / tw
        var sum = 0; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += gray(rgbRowMajor(y * w + x)); n += 1; x += 1 }
          y += 1
        }
        out(ty * tw + tx) = if (n == 0) 0 else sum / n
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** 64-bit dHash over a 9×8 gray thumbnail: bit (ty·8+tx) set iff
    * thumb(tx+1, ty) > thumb(tx, ty) — brightness-gradient signs, the
    * standard perceptual hash that survives re-encoding and small edits.
    * Returned as (hi, lo) 32-bit halves (both non-negative).
    */
  def dHashHalves(thumb: Array[Int]): (Long, Long) = {
    var lo = 0L; var hi = 0L
    var ty = 0
    while (ty < 8) {
      var tx = 0
      while (tx < 8) {
        if (thumb(ty * ThumbW + tx + 1) > thumb(ty * ThumbW + tx)) {
          val idx = ty * 8 + tx
          if (idx < 32) lo |= (1L << idx) else hi |= (1L << (idx - 32))
        }
        tx += 1
      }
      ty += 1
    }
    (hi, lo)
  }

  /** Decode + perceptual-hash pipeline over opaque image payloads: REAL
    * ImageIO decode per record, gray box thumbnail, dHash. Runs as a
    * typed mapPartitions in the scan's partitioning — no shuffle;
    * undecodable payloads are dropped (quarantine them upstream via
    * `sniffFormat` if an audit trail is needed).
    */
  def imageDHash(ds: Dataset[MediaRecord]): Dataset[ImageHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        decodeImage(r.content).map { case (w, h, rgb) =>
          val (dhHi, dhLo) = dHashHalves(grayThumb(w, h, rgb, ThumbW, ThumbH))
          ImageHash(r.media_id, w, h, dhHi, dhLo)
        }
      }
    }
  }

  /** Near-duplicate pairs over any 64-bit perceptual hash stored as
    * (media_id, dh_hi, dh_lo) halves: band into 4×16-bit chunks, bucket
    * on (band, chunk), enumerate pairs INSIDE the bucket aggregation
    * ([[BandChooser.bucketPairs]], shared with `Dedup.simhashPairs` and
    * the choosers — one keyed shuffle, each hash travels once,
    * quadratic only within a bucket), then verify by exact Hamming
    * distance ≤ maxDist over both halves. Shared by the image (dHash)
    * and audio (energy fingerprint) dedup members — the banding algebra
    * is modality-blind.
    *
    * Real media corpora are exact-dup-heavy (every re-encode family
    * shares all four bands; at 10× the gate corpus one skewed bucket's
    * pair explosion OOM-ed a 12 g executor), so identical hashes
    * collapse to one representative before banding and verified rep
    * pairs expand back to member pairs, Hamming 0 within a group
    * ([[DupGroups]]). The output RELATION is bit-identical to the naive
    * enumeration (same pairs, same hamming): MultimodalSpec pins it on a
    * dup-heavy hash set and the q_m5/m7/m9/m11/m13 oracles on the gate
    * corpus.
    */
  def bandedHammingPairs(hashes: DataFrame, maxDist: Int,
                         nBands: Int = 4): DataFrame = {
    // nBands generalizes the historical 4×16-bit split (the default —
    // callers and the q_m5/m7/m9/m11/m13 oracles are unchanged: for
    // non-negative 32-bit halves the shift/mask chunks below are
    // bit-identical to the old %/div formulation). Even counts only,
    // so every chunk lies in one half; [[chooseHammingBands]] prices
    // the grid and [[bandedHammingPairsAuto]] wires it in.
    require(nBands >= 2 && nBands % 2 == 0 && 64 % nBands == 0,
      s"nBands must be even and divide 64, got $nBands")
    val groups = DupGroups.collapse(hashes, Seq("dh_hi", "dh_lo"), "media_id")
    val repPairs = BandChooser.bucketPairs(
        groups.withColumn("m", size(col("members")).cast("long")),
        nBands, hammingChunk, Seq("dh_hi", "dh_lo"))
      .filter(col("hamming") <= maxDist)
      .select(col("ia").as("ra"), col("ib").as("rb"), col("hamming"))
    DupGroups.expand(groups, repPairs, Seq(lit(0).cast("int").as("hamming")))
  }

  /** Image member of the banded-Hamming dedup family (see
    * [[bandedHammingPairs]]).
    */
  def imageNearDupPairs(hashes: DataFrame, maxDist: Int): DataFrame =
    bandedHammingPairs(hashes, maxDist)

  /** Band `b`'s chunk of the 64-bit perceptual hash under an `nb`-band
    * split over the hi/lo-half layout: `nb` is even, so every chunk of
    * width 64/nb lies entirely in one non-negative 32-bit half and the
    * shifts never touch a sign bit. Shared by [[bandedHammingPairs]]
    * and its chooser.
    */
  private def hammingChunk(nb: Int): Column = {
    val w = 64 / nb
    val mask = (1L << w) - 1
    val half = nb / 2
    expr(s"""CASE WHEN b < $half THEN (dh_lo >> ($w * b)) & $mask
            |     ELSE (dh_hi >> ($w * (b - $half))) & $mask END""".stripMargin)
  }

  /** PERCEPTUAL-HASH BAND-COUNT CHOOSER — the perceptual family of the
    * one banded-candidate chooser ([[BandChooser]],
    * [[BandChooser.hammingBanded]]):
    * for each candidate band count over a 64-bit perceptual hash
    * (dHash, pHash, or the audio energy fingerprint — the banding
    * algebra is modality-blind, like [[bandedHammingPairs]] it
    * tunes), measure precision and recall against exact Hamming truth
    * on the deterministic hash-gated sample, mark feasibility against
    * the caller's floors, and mark `chosen` the cheapest feasible
    * config (fewest candidates, ties to FEWER bands — each band is
    * one replication of the hash through the bucket exchange).
    * [[bandedHammingPairs]]'s hard-coded 4×16-bit split becomes an
    * operating point priced before any corpus pass, exactly as
    * q_d21/q_d24 did for the MinHash and SimHash families.
    *
    * TRUTH IS EXACT AND NEVER ALL-PAIRS: a pair at Hamming ≤ d shares
    * an untouched chunk in any banding with more than d bands
    * (pigeonhole), so the truth side enumerates a 16-band (4-bit-
    * chunk) banding of the sample — complete for `maxDist` ≤ 15
    * (required) — and filters by exact in-bucket Hamming.
    * Exact-value collapse applies throughout (identical hashes share
    * every chunk and sit at Hamming 0): weighted rep counting equals
    * member enumeration, and within-group pairs are candidates,
    * verified, and true in every config.
    *
    * Returns one row per config: (n_bands, chunk_bits, n_candidates,
    * n_verified, n_true, precision_ppm, recall_ppm, feasible, chosen).
    * Zero-candidate configs have NULL precision and are never
    * feasible; a zero-truth sample leaves every config infeasible (no
    * evidence is not passing evidence).
    */
  def chooseHammingBands(hashes: DataFrame, bandConfigs: Seq[Int],
                         maxDist: Int, sampleMod: Long,
                         precisionFloorPpm: Long,
                         recallFloorPpm: Long,
                         idCol: String = "media_id",
                         hiCol: String = "dh_hi",
                         loCol: String = "dh_lo",
                         sampleRepCap: Option[Long] = None): DataFrame = {
    require(bandConfigs.nonEmpty &&
        bandConfigs.forall(b => b >= 2 && b % 2 == 0 && 64 % b == 0),
      s"each band count must be even and divide 64 (chunks must lie " +
        s"within one 32-bit half), got $bandConfigs")
    require(maxDist >= 0 && maxDist <= 15,
      s"maxDist must be in [0, 15] (the 16-band truth side is pigeonhole-" +
        s"complete only below its band count), got $maxDist")
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    // modality-blind for real: the defaults are the image dHash schema,
    // audio fingerprints pass (idCol, hiCol = "fp_hi", loCol = "fp_lo")
    // instead of renaming columns first
    val groups = hashes
      .filter(SampleGate.admits(col(idCol), sampleMod))
      .groupBy(col(hiCol).as("dh_hi"), col(loCol).as("dh_lo"))
      .agg(count(lit(1)).cast("long").as("m"), min(col(idCol)).as("rep"))
    BandChooser.choose(hammingFamily(maxDist), groups, bandConfigs,
      precisionFloorPpm, recallFloorPpm, sampleRepCap)
  }

  /** The perceptual-hash family of [[BandChooser]]: 16-band pigeonhole
    * truth over the hi/lo halves.
    */
  private[graft] def hammingFamily(maxDist: Int): BandChooser.Family =
    BandChooser.hammingBanded("hamming", 64, Seq("dh_hi", "dh_lo"),
      hammingChunk, truthBands = 16, maxDist)

  /** AUTO-TUNED perceptual near-dup pairs — [[chooseHammingBands]]
    * driving [[bandedHammingPairs]] through the shared auto path
    * ([[BandChooser.auto]]): the chooser prices the grid on the
    * hash-gated sample, the cheapest floor-feasible band count runs the
    * corpus pass (carried out as the `n_bands` provenance column), and
    * when NO config meets the floors the call REFUSES — a silent
    * default would run the corpus at an operating point the floors
    * just rejected. Under a budget `gate` the row count sizes the mod,
    * the budget caps the sample's distinct hashes (the pigeonhole truth
    * is Σ df² over the sample's 16-band cells), and the derived mod
    * rides out as `sample_mod`.
    */
  def bandedHammingPairsAuto(hashes: DataFrame, maxDist: Int,
                             bandConfigs: Seq[Int], gate: SampleGate,
                             precisionFloorPpm: Long,
                             recallFloorPpm: Long): DataFrame =
    BandChooser.auto("bandedHammingPairsAuto", "band count", gate, hashes.count())(
      (mod, cap) => chooseHammingBands(hashes, bandConfigs, maxDist, mod,
        precisionFloorPpm, recallFloorPpm, sampleRepCap = cap))(
      nb => bandedHammingPairs(hashes, maxDist, nb))

  // ---- DCT pHash: the frequency-domain perceptual hash ----------------
  //
  // dHash compares neighbouring pixels (fast, local); pHash thresholds
  // the low-frequency DCT spectrum against its median (global structure
  // — more robust to local edits, the classic ImageHash/pHash design).
  // All arithmetic is FIXED-POINT INTEGER: the cosine basis is a
  // constant table of round(cos·2^14) values that the oracle SQL
  // inlines verbatim (the generated-constant pattern of the PageRank
  // oracle), so hash equality is engine-exact — no libm cos at query
  // time on either side.

  /** pHash geometry: 16×16 gray thumbnail, 8×8 low-frequency DCT block,
    * 63 AC coefficients thresholded at their lower median.
    */
  val PThumb = 16

  /** Fixed-point DCT-II basis K(u, p) = round(cos(π·(2p+1)·u / 32)·2^14)
    * for u ∈ 0..7, p ∈ 0..15. Shared verbatim with the oracle.
    */
  lazy val dctK: Array[Array[Long]] = Array.tabulate(8, PThumb)((u, p) =>
    math.round(math.cos(math.Pi * (2 * p + 1) * u / (2.0 * PThumb)) * (1 << 14)))

  /** 63-bit pHash over a 16×16 gray thumbnail: c(u,v) = Σ t(x,y)·
    * K(u,x)·K(v,y) for the 8×8 low-frequency block (≤ 255·2^28·256,
    * exact in Long); bit (v·8+u−1) set iff the AC coefficient exceeds
    * the lower median of all 63 AC coefficients (DC is excluded — it
    * only encodes mean brightness). Returned as (hi, lo) halves.
    */
  def pHashHalves(thumb: Array[Int]): (Long, Long) = {
    val c = new Array[Long](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0L
        var y = 0
        while (y < PThumb) {
          val kv = dctK(v)(y)
          var x = 0
          while (x < PThumb) { s += thumb(y * PThumb + x) * dctK(u)(x) * kv; x += 1 }
          y += 1
        }
        c(v * 8 + u) = s
        u += 1
      }
      v += 1
    }
    val ac = java.util.Arrays.copyOfRange(c, 1, 64)
    java.util.Arrays.sort(ac)
    val med = ac(31) // lower median: 32nd smallest of 63
    var lo = 0L; var hi = 0L
    var i = 1
    while (i < 64) {
      if (c(i) > med) {
        val idx = i - 1
        if (idx < 32) lo |= (1L << idx) else hi |= (1L << (idx - 32))
      }
      i += 1
    }
    (hi, lo)
  }

  /** Decode + DCT-pHash pipeline: REAL ImageIO decode, 16×16 gray box
    * thumbnail, fixed-point pHash. Same no-shuffle mapPartitions shape
    * as [[imageDHash]]; the two hashes share the decode and differ only
    * in the hash stage, so a pipeline computing both pays one decode.
    */
  def imagePHash(ds: Dataset[MediaRecord]): Dataset[ImageHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        decodeImage(r.content).map { case (w, h, rgb) =>
          val (phHi, phLo) = pHashHalves(grayThumb(w, h, rgb, PThumb, PThumb))
          ImageHash(r.media_id, w, h, phHi, phLo)
        }
      }
    }
  }

  // ---- REAL audio decode + energy fingerprinting ----------------------
  //
  // The audio member of the decode family, with a genuine codec:
  // `javax.sound.sampled.AudioSystem` (JDK-public, pure stream parsing —
  // no audio hardware involved) encodes and decodes actual RIFF/WAVE
  // PCM16 bytes. Fixtures are deterministic synthesized waveforms whose
  // samples are pure integer functions of (media_id, t), so an oracle
  // replays the window/energy/fingerprint INTEGER math from the id alone
  // — PCM is lossless, so a fingerprint match PROVES the WAV
  // encode→decode round-trip preserved every sample.

  /** Synth audio geometry: 256 PCM16 mono samples at 8 kHz, 64 windows
    * of 4 samples, 63 adjacent-window energy comparisons → fingerprint.
    */
  val AudioN = 256
  val AudioRate = 8000
  val AudioWin = 4

  /** Deterministic sample t of media m. Members of the same base group
    * (m mod 41) share every sample EXCEPT one per-media perturbed window
    * (w = m mod 64) where the pre-wrap value shifts by +500 — so
    * same-base audio are perceptual near-duplicates (≤ 2 fingerprint
    * bits each, ≤ 4 pairwise) while different bases follow different
    * sample progressions (the base changes the stride, not just the
    * phase, of the mod-65536 scramble). All arithmetic on non-negative
    * values before the final recenter — replayed verbatim in SQL.
    */
  def synthSample(m: Long, t: Int): Int = {
    val base = (m % 41).toInt
    val pert = if (t / AudioWin == (m % 64).toInt) 500 else 0
    ((((31153L + 2L * base) * t + 40503L * base + pert) % 65536L) - 32768L).toInt
  }

  /** Encode the synthetic waveform for `m` as REAL WAV bytes via
    * AudioSystem (RIFF header + PCM16 little-endian payload).
    */
  def synthWav(m: Long): Array[Byte] = {
    val data = new Array[Byte](AudioN * 2)
    var t = 0
    while (t < AudioN) {
      val s = synthSample(m, t)
      data(2 * t) = (s & 0xff).toByte
      data(2 * t + 1) = ((s >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      AudioRate.toFloat, 16, 1, true, false) // PCM16, mono, signed, LE
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, AudioN.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode: AudioSystem parses the RIFF/WAVE container and
    * yields the PCM frames. Returns (sampleRate, channels, signed 16-bit
    * samples) or None for undecodable bytes (quarantine, never throw —
    * same contract as `decodeImage`).
    */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      val raw = ais.readAllBytes()
      val n = raw.length / 2
      val out = new Array[Int](n)
      var i = 0
      // Signed high byte shifted left 8 OR'd with the unsigned low byte
      // reconstructs the exact two's-complement 16-bit sample.
      while (i < n) { out(i) = (raw(2 * i) & 0xff) | (raw(2 * i + 1).toInt << 8); i += 1 }
      Some((fmt.getSampleRate.toInt, fmt.getChannels, out))
    } catch { case _: Exception => None }

  /** 63-bit energy-gradient fingerprint: window w's energy is the sum of
    * squared samples (exact in Long — ≤ 4·32768²); bit w set iff
    * energy(w+1) > energy(w). The audio analogue of dHash — sign of the
    * short-time energy envelope's slope, robust to uniform gain the way
    * dHash is robust to uniform brightness. Returned as (hi, lo) halves.
    */
  def audioFpHalves(samples: Array[Int]): (Long, Long) = {
    val nw = samples.length / AudioWin
    val e = new Array[Long](nw)
    var w = 0
    while (w < nw) {
      var s = 0L; var i = 0
      while (i < AudioWin) {
        val v = samples(w * AudioWin + i).toLong; s += v * v; i += 1
      }
      e(w) = s; w += 1
    }
    var lo = 0L; var hi = 0L
    var idx = 0
    while (idx < nw - 1 && idx < 63) {
      if (e(idx + 1) > e(idx)) {
        if (idx < 32) lo |= (1L << idx) else hi |= (1L << (idx - 32))
      }
      idx += 1
    }
    (hi, lo)
  }

  /** Decode + fingerprint pipeline over opaque audio payloads: REAL
    * AudioSystem decode per record, windowed energies, gradient
    * fingerprint. Typed mapPartitions in the scan's partitioning — no
    * shuffle; undecodable payloads are dropped.
    */
  def audioFingerprint(ds: Dataset[MediaRecord]): Dataset[AudioHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        decodeWav(r.content).map { case (rate, _, samples) =>
          val (hi, lo) = audioFpHalves(samples)
          AudioHash(r.media_id, rate, samples.length, hi, lo)
        }
      }
    }
  }

  /** Audio near-duplicate pairs: the same 4×16-bit banded-Hamming
    * machinery as images, over the energy fingerprint.
    */
  def audioNearDupPairs(hashes: Dataset[AudioHash], maxDist: Int): DataFrame =
    bandedHammingPairs(
      hashes.toDF().select(col("media_id"),
        col("fp_hi").as("dh_hi"), col("fp_lo").as("dh_lo")),
      maxDist)

  /** Frame-sampling plumbing for video-like payloads: split the payload
    * into `nFrames` evenly-spaced slices (the real implementation seeks
    * keyframes; the slicing/fan-out shape is identical).
    */
  def sampleFrames(ds: Dataset[MediaRecord], nFrames: Int): DataFrame = {
    import ds.sparkSession.implicits._
    ds.flatMap { r =>
      val n = math.max(1, math.min(nFrames, r.content.length))
      val step = math.max(1, r.content.length / n)
      (0 until n).map { f =>
        val start = f * step
        val end = math.min(r.content.length, start + step)
        (r.media_id, f, java.util.Arrays.copyOfRange(r.content, start, end))
      }
    }.toDF("media_id", "frame_no", "frame_bytes")
  }

  // ---- video container demux + per-frame perceptual hashing -----------
  //
  // This container has no video CODEC (no ffmpeg), but container DEMUX
  // is byte-level parsing — real logic, not a stub. The fixture format
  // is a minimal length-prefixed frame container ("GVI1" magic, frame
  // count, then [4-byte BE length][payload] per frame) whose frame
  // payloads are REAL PNGs — so demux (genuine parsing), frame sampling
  // (declarative filter), and frame decode (the genuine ImageIO path
  // from q_m4) are all real; only the inter-frame compression a
  // production codec adds is absent, and that swaps in at the
  // `demuxVideo` call site without touching the pipeline around it.

  /** Frames per synthetic video and the sampling stride (keep every
    * k-th frame — the cheap "temporal thumbnail" a video pipeline takes
    * before per-frame work).
    */
  val VideoFrames = 6
  val VideoStride = 2

  /** Frame f of video m decodes the synth image with this id: members
    * of the same base group (m mod 29) share every frame EXCEPT one
    * per-media perturbed position (f = m mod 6) which holds a unique
    * image (id 100000 + m) — so same-base videos share most frames
    * exactly while different bases share none by construction (disjoint
    * image-id ranges; ids stay < 37·k collision-free because the synth
    * pixel base is id mod 37 AND the perturbation pixel position is id
    * mod 18 / 16 — distinct ids in a group differ somewhere).
    */
  def videoFrameImageId(m: Long, f: Int): Long =
    if (f == (m % VideoFrames).toInt) 100000L + m else (m % 29) * 1000L + f

  /** Encode the synthetic video for `m`: GVI1 container of 6 real PNG
    * frames.
    */
  def synthVideo(m: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeBytes("GVI1")
    out.writeInt(VideoFrames)
    var f = 0
    while (f < VideoFrames) {
      val png = synthPng(videoFrameImageId(m, f))
      out.writeInt(png.length)
      out.write(png)
      f += 1
    }
    out.flush()
    bos.toByteArray
  }

  /** REAL container demux: parse the GVI1 header and length-prefixed
    * frame payloads. Returns (frame_no, payload) pairs, or Nil for a
    * corrupt/foreign container (quarantine, never throw). Bounds-checked
    * at every step — a truncated payload yields the frames that fully
    * parsed, matching how a production demuxer salvages a damaged file.
    */
  def demuxVideo(bytes: Array[Byte]): Seq[(Int, Array[Byte])] = {
    if (bytes.length < 8 || bytes(0) != 'G' || bytes(1) != 'V' ||
      bytes(2) != 'I' || bytes(3) != '1') return Nil
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes, 4, bytes.length - 4))
    val out = Vector.newBuilder[(Int, Array[Byte])]
    try {
      val n = in.readInt()
      var f = 0
      while (f < n) {
        val len = in.readInt()
        if (len < 0 || len > bytes.length) throw new java.io.IOException("bad frame length")
        val buf = new Array[Byte](len)
        in.readFully(buf)
        out += ((f, buf))
        f += 1
      }
    } catch { case _: java.io.IOException => () } // salvage frames parsed so far
    out.result()
  }

  /** Demux + sample every `stride`-th frame + REAL per-frame PNG decode
    * + dHash, all inside one typed mapPartitions — the whole per-video
    * chain runs where the payload already sits, no shuffle, and skipped
    * frames are never decoded (the sampling happens at demux time, the
    * point of frame sampling at 100 TB).
    */
  def videoFrameHashes(ds: Dataset[MediaRecord], stride: Int = VideoStride): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        demuxVideo(r.content).iterator
          .filter { case (f, _) => f % stride == 0 }
          .flatMap { case (f, png) =>
            decodeImage(png).map { case (w, h, rgb) =>
              val (hi, lo) = dHashHalves(grayThumb(w, h, rgb, ThumbW, ThumbH))
              (r.media_id, f, hi, lo)
            }
          }
      }
    }.toDF("media_id", "frame_no", "dh_hi", "dh_lo")
  }

  /** Video near-duplicate pairs: two videos are near-dups when their
    * sampled frames share ≥ `minShared` exact frame hashes — the
    * set-overlap algebra of content-based video retrieval, temporal
    * order ignored. Candidates come from an inverted-index self-join on
    * the exact 64-bit frame hash (the `Dedup` n-gram-index shape):
    * quadratic only within one hash's posting list, never across the
    * corpus.
    */
  def videoNearDupPairs(frameHashes: DataFrame, minShared: Int): DataFrame = {
    val h = frameHashes.select("media_id", "dh_hi", "dh_lo").distinct()
    val a = h.select(col("media_id").as("va"), col("dh_hi"), col("dh_lo"))
    val b = h.select(col("media_id").as("vb"), col("dh_hi"), col("dh_lo"))
    a.join(b, Seq("dh_hi", "dh_lo"))
      .where(col("va") < col("vb"))
      .groupBy("va", "vb")
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minShared)
  }
}
