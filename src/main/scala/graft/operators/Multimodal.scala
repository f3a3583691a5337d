package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.r5

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media are carried as opaque `binary` payload columns + typed
  * metadata, processed per-partition in batches (the Scala analog of
  * arrow-batched pandas UDFs): one decoder instantiation per
  * partition, streaming through rows without collecting.
  *
  * The actual codec step is STUBBED (no image/audio libraries in this
  * environment): `stubDecode` derives deterministic pseudo-metadata
  * and a byte-histogram feature vector from the payload. The Spark
  * plumbing — schema, batching, partitioning, feature shape — is real
  * and tested; swap `stubDecode` for a JNI/javacv decoder in
  * production.
  */
object Multimodal {

  case class Media(media_id: Long, kind: String, payload: Array[Byte])
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           width: Int, height: Int, features: Array[Float])

  /** STUB decoder: pretends the first 4 bytes are a header carrying
    * dimensions, and summarizes content as a 16-bin normalized byte
    * histogram (stands in for a CNN embedding / mel spectrogram).
    */
  def stubDecode(payload: Array[Byte]): (Int, Int, Array[Float]) = {
    val w = 1 + (((payload.headOption.getOrElse(0: Byte) & 0xff) % 64)) * 16
    val h = 1 + (((payload.lift(1).getOrElse(0: Byte) & 0xff) % 64)) * 16
    val hist = new Array[Float](16)
    payload.foreach(b => hist((b & 0xff) / 16) += 1f)
    val n = math.max(payload.length, 1)
    (w, h, hist.map(_ / n))
  }

  /** REAL image decode for the formats the JDK ships codecs for (PNG,
    * BMP, JPEG, GIF, WBMP via `javax.imageio` — public JDK, zero
    * external dependency): actual pixel dimensions plus a 16-bin
    * normalized LUMINANCE histogram (Rec.601 integer weights) as the
    * feature vector. Returns None for payloads ImageIO cannot decode
    * (audio bytes, truncated files, unsupported formats) so callers
    * dispatch to the stub — the per-format codec dispatch a production
    * pipeline runs behind this same seam.
    */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Float])] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val hist = new Array[Float](16)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            hist(lum / 16) += 1f
            x += 1
          }
          y += 1
        }
        val n = math.max(w * h, 1)
        Some((w, h, hist.map(_ / n)))
      }
    } catch { case _: java.io.IOException | _: RuntimeException => None }

  /** Batch feature extraction: per-partition iteration (decoder state
    * amortized across the partition), narrow transform, no shuffle.
    * `image` payloads go through the REAL JDK decoder ([[decodeImage]])
    * and fall back to [[stubDecode]] when the bytes aren't a
    * JDK-decodable image; non-image kinds go straight to the stub
    * (no audio/video codec ships with the JDK).
    */
  def extractFeatures(media: Dataset[Media]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder init would go here (expensive at 100 TB
      // if done per row)
      rows.map { m =>
        val (w, h, feat) =
          (if (m.kind == "image") decodeImage(m.payload) else None)
            .getOrElse(stubDecode(m.payload))
        MediaFeatures(m.media_id, m.kind, m.payload.length.toLong, w, h, feat)
      }
    }
  }

  case class ResizedMedia(media_id: Long, kind: String, width: Int, height: Int,
                          payload: Array[Byte])

  /** REAL image resize for JDK-decodable payloads: decode, scale with
    * Graphics2D bilinear interpolation, re-encode as PNG. Same
    * per-partition batch shape as [[resizeStub]]; payloads ImageIO
    * cannot decode fall back to the stub's byte sampling so mixed
    * media batches never fail mid-partition.
    */
  def resizeImages(media: Dataset[Media], targetW: Int = 32, targetH: Int = 32): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    val outLen = targetW * targetH
    media.mapPartitions { rows =>
      rows.map { m =>
        val real: Option[Array[Byte]] =
          try {
            Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload)))
              .map { img =>
                val scaled = new java.awt.image.BufferedImage(
                  targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
                val g = scaled.createGraphics()
                g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(img, 0, 0, targetW, targetH, null)
                g.dispose()
                val bos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(scaled, "png", bos)
                bos.toByteArray
              }
          } catch { case _: java.io.IOException | _: RuntimeException => None }
        val out = real.getOrElse {
          val n = m.payload.length
          if (n == 0) new Array[Byte](outLen)
          else Array.tabulate(outLen)(i => m.payload(((i.toLong * n) / outLen).toInt min (n - 1)))
        }
        ResizedMedia(m.media_id, m.kind, targetW, targetH, out)
      }
    }
  }

  /** STUB resize: deterministic nearest-neighbor byte sampling down to
    * a fixed targetW×targetH payload — stands in for a real image
    * resize (no codec libraries in this environment). The Spark
    * plumbing is the production shape: typed mapPartitions batch (one
    * resizer instantiation per partition), fixed output schema, narrow
    * transform, no shuffle — swap the sampling loop for libvips/javacv
    * and nothing around it changes.
    */
  def resizeStub(media: Dataset[Media], targetW: Int = 32, targetH: Int = 32): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    val outLen = targetW * targetH
    media.mapPartitions { rows =>
      rows.map { m =>
        val n = m.payload.length
        val out =
          if (n == 0) new Array[Byte](outLen)
          else Array.tabulate(outLen)(i => m.payload(((i.toLong * n) / outLen).toInt min (n - 1)))
        ResizedMedia(m.media_id, m.kind, targetW, targetH, out)
      }
    }
  }

  /** Frame sampling: treat the payload as a sequence of fixed-size
    * frames and emit every `stride`-th frame as its own row (video →
    * sampled stills before feature extraction). Pure narrow transform:
    * sequence + explode + binary substring, all codegen'd — at 100 TB
    * the frames explode in place, no shuffle, and downstream per-frame
    * decode parallelizes over `frames × partitions`.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int = 256, stride: Int = 4): DataFrame =
    media
      .select(col("media_id"), col("payload"),
        greatest(ceil(length(col("payload")) / lit(frameBytes.toDouble)).cast("long"), lit(1L))
          .as("n_frames"))
      .select(col("media_id"), col("payload"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_idx"))
      .where(col("frame_idx") % stride === 0)
      .select(col("media_id"), col("n_frames"), col("frame_idx"),
        expr(s"substring(payload, cast(frame_idx * $frameBytes + 1 as int), $frameBytes)")
          .as("frame"))

  /** Deterministic synthetic media table for tests/demos: payload bytes
    * derived from the documents table (no external files needed).
    */
  def syntheticMedia(spark: SparkSession, dir: String): Dataset[Media] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        Media(id, if (id % 2 == 0) "image" else "audio", text.getBytes("UTF-8"))
      }
  }

  /** End-to-end: synthetic media → batched stub decode → features
    * joined back to metadata; ANN-ready embedding column out.
    */
  def pipeline(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(syntheticMedia(spark, dir)).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("width"), col("height"), col("features"))
      .orderBy(col("media_id"))

  /** Deterministic 24-bit uncompressed BMP fixture: dimensions and
    * every pixel are pure functions of `id`, so an EXTERNAL engine can
    * recompute the decoded statistics from the generative formula
    * alone — the npy-decode precedent (reference
    * product_embeddings.npy, re-read byte-for-byte and oracled)
    * applied to images. BMP because its layout is byte-predictable:
    * 14-byte file header + 40-byte BITMAPINFOHEADER + bottom-up BGR
    * rows padded to 4 bytes, total size 54 + h·((3w+3)÷4·4) — one
    * closed-form expression the oracle checks against the real file.
    *   w = 4 + id mod 13, h = 4 + id mod 9
    *   b = (7id+53x+31y) mod 256, g = (11id+29x+47y) mod 256,
    *   r = (13id+41x+17y) mod 256
    * (coprime-to-256 coordinate coefficients spread luminance across
    * the histogram so the entropy gate exercises both branches)
    * A wrong row stride, padding, channel order, or header offset in
    * this writer — or in the JDK decode path reading it back — shifts
    * the luminance statistics and fails the oracle.
    */
  def syntheticBmp(id: Long): Array[Byte] = {
    val w = (4 + (id % 13)).toInt; val h = (4 + (id % 9)).toInt
    val rowSize = (3 * w + 3) / 4 * 4
    val size = 54 + rowSize * h
    val bb = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(size)
      .putInt(0).putInt(54)                                   // reserved, data offset
    bb.putInt(40).putInt(w).putInt(h)                          // info header, dims
      .putShort(1).putShort(24)                                // planes, bpp
      .putInt(0).putInt(rowSize * h)                           // BI_RGB, image size
      .putInt(2835).putInt(2835).putInt(0).putInt(0)           // 72 dpi, palette
    var fy = 0
    while (fy < h) {
      val y = h - 1 - fy // bottom-up row order
      var x = 0
      while (x < w) {
        bb.put(((id * 7 + 53 * x + 31 * y) % 256).toByte)
        bb.put(((id * 11 + 29 * x + 47 * y) % 256).toByte)
        bb.put(((id * 13 + 41 * x + 17 * y) % 256).toByte)
        x += 1
      }
      var p = 3 * w
      while (p < rowSize) { bb.put(0.toByte); p += 1 }
      fy += 1
    }
    bb.array()
  }

  /** The hard-oracled multimodal query: generate the BMP fixture per
    * sampled doc, decode through the REAL JDK ImageIO path, and report
    * per-image quality statistics — dimensions, exact byte size, exact
    * integer luminance sum and pixel count, and the 16-bin luminance
    * histogram's Shannon entropy (the [[imageQualityGate]] admission
    * signal). Every integer column is exact; the two doubles are one
    * fixed division / a ≤16-term fold, re-quantized floor(x·10⁵+0.5)
    * (SURVEY §4). Distributed shape: narrow mapPartitions over the id
    * scan (generation + decode fuse into the scan stage, no shuffle
    * until the final presentation sort); at 100 TB the same operator
    * reads a real binary payload column instead of generating one.
    */
  def mediaQualityReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def r5(x: Double): Double = math.floor(x * 1e5 + 0.5) / 1e5
    graft.Tables.documents(spark, dir).select(col("doc_id"))
      .where(col("doc_id") % 7 === 0).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val bytes = syntheticBmp(id)
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"JDK failed to decode generated BMP for id $id")
          val (w, h) = (img.getWidth, img.getHeight)
          val bins = new Array[Long](16); var lumSum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000
              bins(lum / 16) += 1; lumSum += lum
              x += 1
            }
            y += 1
          }
          val n = w * h
          var ent = 0.0; var b = 0
          while (b < 16) {
            val c = bins(b)
            if (c > 0) { val p = c.toDouble / n; ent -= p * (math.log(p) / math.log(2.0)) }
            b += 1
          }
          val entR = r5(ent)
          (id, w, h, bytes.length.toLong, n.toLong, lumSum,
            r5(lumSum.toDouble / n), entR, w >= 8 && h >= 6 && entR >= 3.0)
        }
      }
      .toDF("media_id", "width", "height", "n_bytes", "n_pixels", "lum_sum",
        "lum_mean", "lum_entropy", "quality_ok")
      .orderBy(col("media_id"))
  }

  /** 64-bit dHash perceptual image fingerprint — the standard
    * difference hash (Krawetz's dHash): decode, bilinear-downsample to
    * a 9×8 Rec.601 luminance grid, bit b set iff the pixel right of
    * grid cell b is brighter. Robust to re-encoding, resizing, and
    * small edits (the transforms that defeat exact byte dedup), which
    * is exactly what a crawl-scale image-dedup gate needs. None for
    * payloads the JDK cannot decode — callers route those to the
    * byte-level exact dedup instead.
    */
  def dhash64(payload: Array[Byte]): Option[Long] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val s = new java.awt.image.BufferedImage(
          9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = s.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, 9, 8, null)
        g.dispose()
        def lum(px: Int): Int =
          (((px >> 16) & 0xff) * 299 + ((px >> 8) & 0xff) * 587 + (px & 0xff) * 114) / 1000
        var bits = 0L
        var b = 0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (lum(s.getRGB(x + 1, y)) > lum(s.getRGB(x, y))) bits |= (1L << b)
            b += 1; x += 1
          }
          y += 1
        }
        Some(bits)
      }
    } catch { case _: java.io.IOException | _: RuntimeException => None }

  /** Per-image fingerprints: (media_id, phash) for every JDK-decodable
    * image payload. Per-partition batch decode (one codec warm-up per
    * partition), narrow transform; non-decodable rows drop out here
    * and stay the exact-dedup path's problem.
    */
  def imageFingerprints(media: Dataset[Media]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap(m => dhash64(m.payload).map(h => (m.media_id, h)))
    }.toDF("media_id", "phash")
  }

  /** Perceptual image near-dup — [[graft.operators.Dedup.simhash]]'s
    * blocked-hamming join applied to the dHash fingerprint space: a
    * pair at hamming ≤ 3 must agree on one of the four 16-bit chunks
    * (pigeonhole), so candidates come from a (position, chunk-value)
    * bucket equi-join — never an all-pairs hamming scan — with the
    * same occupancy cap guarding degenerate corpora (solid-color
    * images all hash to 0L and would otherwise go quadratic in one
    * bucket). Output: verified (a_id, b_id, hamming) pairs.
    *
    * Scale shape: fingerprints are 8 bytes/image, the bucket join's
    * keys carry 16 bits of entropy × 4 positions, and the verify is
    * one XOR+popcount per candidate — the same ≤O(n·occupancy) shape
    * every text near-dup path rides.
    */
  def imageNearDup(media: Dataset[Media], maxHamming: Int = 3,
                   bucketCap: Long = 1000L): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"16-bit chunk blocking is only complete to hamming 3: $maxHamming")
    val sigs = imageFingerprints(media)
    val chunks = sigs.select(col("media_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("bucket", expr("c * 65536L + ((phash >> (c * 16)) & 65535L)"))
    val occ = chunks.groupBy(col("bucket")).agg(count(lit(1)).as("occ"))
    val capped = chunks.join(
      occ.where(col("occ") <= bucketCap).select(col("bucket")), Seq("bucket"))
    capped.as("a").join(capped.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("a_id"), col("a.phash").as("a_ph"),
        col("b.media_id").as("b_id"), col("b.phash").as("b_ph"))
      .distinct()
      .withColumn("hamming", bit_count(col("a_ph").bitwiseXOR(col("b_ph"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Image quality gate — the Gopher-rules twin for pixels, the
    * admission filter a multimodal training pipeline runs before
    * captioning/embedding spends compute on junk: per decodable image
    * its real dimensions, aspect ratio, byte size, and the Shannon
    * entropy of the 16-bin luminance histogram (a solid-color or
    * near-blank image scores ~0 nats and carries no training signal).
    * Flags: `pass_res` (both sides ≥ minSide), `pass_aspect`
    * (long/short ≤ maxAspect — banner/scrollbar scrap fails),
    * `pass_entropy` (≥ minEntropy nats), and the composed `pass`.
    * Per-partition batch decode, narrow transform, no shuffle.
    */
  def imageQualityGate(media: Dataset[Media], minSide: Int = 4,
                       maxAspect: Double = 4.0,
                       minEntropy: Double = 0.5): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { m =>
        decodeImage(m.payload).map { case (w, h, hist) =>
          val ent = -hist.foldLeft(0.0)((s, p) =>
            if (p > 0f) s + p * math.log(p.toDouble) else s)
          val aspect = math.max(w, h).toDouble / math.max(math.min(w, h), 1)
          (m.media_id, w, h, m.payload.length.toLong,
            BigDecimal(aspect).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(ent).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
            w >= minSide && h >= minSide, aspect <= maxAspect, ent >= minEntropy)
        }
      }
    }.toDF("media_id", "width", "height", "n_bytes", "aspect", "lum_entropy",
        "pass_res", "pass_aspect", "pass_entropy")
      .withColumn("pass", col("pass_res") && col("pass_aspect") && col("pass_entropy"))
      .orderBy(col("media_id"))
  }

  case class AudioFrame(media_id: Long, frame_idx: Long, n_samples: Int,
                        rms: Double, silent: Boolean)

  /** Per-frame PCM statistics with EXACT integer energy: for each
    * `frameSamples` window of the little-endian signed 16-bit mono
    * payload (trailing partial kept), (sample count, Σ s16² as a
    * long, max |s16|). Σ s16² of ≤ frameSamples ≤ 2^16 samples at
    * ≤ 32768² each fits a long exactly AND a double exactly (< 2^53),
    * so downstream RMS = sqrt(ssq / (n·32768²)) is ONE fixed double
    * expression over exact integers — bit-identical cross-engine
    * (SURVEY §4), unlike a per-sample normalized double fold. Shared
    * by every audio operator so the hard-oracled report exercises the
    * same code path the spec-only energy/VAD operators run.
    */
  private[operators] def pcmFrameStats(bytes: Array[Byte],
                                       frameSamples: Int): Array[(Int, Long, Int)] = {
    val nSamples = bytes.length / 2
    val nFrames = (nSamples + frameSamples - 1) / frameSamples
    Array.tabulate(nFrames) { f =>
      val start = f * frameSamples
      val end = math.min(start + frameSamples, nSamples)
      var ssq = 0L; var peak = 0; var i = start
      while (i < end) {
        val s: Int = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toInt
        ssq += s.toLong * s; if (math.abs(s) > peak) peak = math.abs(s)
        i += 1
      }
      (end - start, ssq, peak)
    }
  }

  /** RMS of a frame from its exact integer stats — the one fixed
    * double expression both engines evaluate identically.
    */
  private[operators] def frameRms(n: Int, ssq: Long): Double =
    math.sqrt(ssq.toDouble / (math.max(n, 1) * 32768.0 * 32768.0))

  /** PCM frame energy — the audio-side decode step that IS computable
    * without codec libraries (PCM is bytes, not a codec): interpret
    * the payload as little-endian signed 16-bit mono PCM, window into
    * `frameSamples`-sample frames (trailing partial frame kept), and
    * emit per-frame RMS (of the [−1, 1)-normalized samples, rounded
    * to 6) plus the silence flag the VAD/trim stages key on. This is
    * the energy track a speech-data pipeline computes before
    * transcription spends GPU time on silence.
    *
    * Per-partition batch iteration, flatMap fan-out ∝ payload bytes —
    * the frame explode happens in place, no shuffle; at 100 TB
    * downstream per-frame work parallelizes over frames × partitions.
    * Compressed formats (MP3/FLAC) sit behind the same seam as the
    * image codecs: decode to PCM first, then this operator unchanged.
    */
  def pcmFrameEnergy(media: Dataset[Media], frameSamples: Int = 256,
                     silenceRms: Double = 0.001): Dataset[AudioFrame] = {
    import media.sparkSession.implicits._
    require(frameSamples >= 1, s"frameSamples must be >= 1: $frameSamples")
    media.flatMap { m =>
      pcmFrameStats(m.payload, frameSamples).zipWithIndex.map {
        case ((n, ssq, _), f) =>
          val rms = frameRms(n, ssq)
          AudioFrame(m.media_id, f.toLong, n,
            BigDecimal(rms).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            rms < silenceRms)
      }
    }
  }

  /** Per-clip activity summary — the trim/VAD verdict over
    * [[pcmFrameEnergy]]'s track: frame counts, activity ratio, and
    * the leading/trailing silent-frame runs (the trim offsets a
    * speech pipeline cuts before training). Computed in the SAME
    * per-partition pass as the framing (one payload read, no
    * shuffle); an all-silent clip reports trim_lead = n_frames and
    * zero activity — the drop-row signal.
    */
  def audioActivitySummary(media: Dataset[Media], frameSamples: Int = 256,
                           silenceRms: Double = 0.001): DataFrame = {
    import media.sparkSession.implicits._
    media.map { m =>
      val silent = pcmFrameStats(m.payload, frameSamples)
        .map { case (n, ssq, _) => frameRms(n, ssq) < silenceRms }
      val nFrames = silent.length
      val lead = silent.takeWhile(identity).length
      val trail = if (lead == nFrames) 0 else silent.reverse.takeWhile(identity).length
      val active = silent.count(!_)
      (m.media_id, nFrames.toLong, active.toLong,
        if (nFrames == 0) 0.0
        else r5(active.toDouble / nFrames),
        lead.toLong, trail.toLong)
    }.toDF("media_id", "n_frames", "n_active", "activity_ratio",
        "trim_lead_frames", "trim_trail_frames")
      .orderBy(col("media_id"))
  }

  /** Deterministic little-endian signed-16-bit mono PCM fixture — the
    * 28j BMP recipe applied to audio: every sample is a pure integer
    * function of (id, sample index), so an external engine recomputes
    * the whole clip from the formula alone. The clip has the
    * three-zone speech shape the VAD/trim stages exist for:
    *
    *   leadS  = (id mod 4)·256 zero samples  (whole silent frames)
    *   activeS = 300 + id mod 213 samples of
    *             s16 = ((37·id + 73·i) mod 20001) − 10000
    *   trailS = (id mod 3)·256 zero samples
    *
    * Active amplitudes span [−10000, 10000] (always int16-safe, loud
    * enough that any active frame clears the 0.001 RMS gate), the
    * active span is NOT frame-aligned (partial boundary frames and a
    * trailing partial frame exercise the windowing edge cases), and a
    * wrong byte order / sign / stride in the writer or the reader
    * shifts the exact energy sums and fails the oracle.
    */
  def syntheticPcm(id: Long): Array[Byte] = {
    val leadS = ((id % 4) * 256).toInt
    val activeS = (300 + id % 213).toInt
    val trailS = ((id % 3) * 256).toInt
    val n = leadS + activeS + trailS
    val bb = java.nio.ByteBuffer.allocate(2 * n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) {
      val s: Int =
        if (i < leadS || i >= leadS + activeS) 0
        else ((37 * id + 73 * i) % 20001).toInt - 10000
      bb.putShort(s.toShort)
      i += 1
    }
    bb.array()
  }

  /** The hard-oracled audio query (the 28j precedent closing the last
    * spec-only multimodal family): generate the PCM fixture per
    * sampled doc, run it through the REAL shared framing code
    * ([[pcmFrameStats]] — the exact path [[pcmFrameEnergy]] and
    * [[audioActivitySummary]] execute), and report per-clip exact
    * integers (sample/frame/active counts, total Σ s16² energy, peak
    * |s16|), the VAD trim offsets, and the 5-decimal activity ratio.
    * Every silence decision is sqrt over exact integers vs the
    * literal threshold — replayable bit-for-bit in SQL. Narrow
    * mapPartitions over the id scan, no shuffle before the
    * presentation sort; at 100 TB the generator swaps for a real
    * binary payload column and the operator is unchanged.
    */
  def audioActivityReport(spark: SparkSession, dir: String,
                          frameSamples: Int = 256,
                          silenceRms: Double = 0.001): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, dir).select(col("doc_id"))
      .where(col("doc_id") % 11 === 0).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val bytes = syntheticPcm(id)
          val stats = pcmFrameStats(bytes, frameSamples)
          val silent = stats.map { case (n, ssq, _) => frameRms(n, ssq) < silenceRms }
          val nFrames = silent.length
          val lead = silent.takeWhile(identity).length
          val trail = if (lead == nFrames) 0 else silent.reverse.takeWhile(identity).length
          val active = silent.count(!_)
          (id, (bytes.length / 2).toLong, nFrames.toLong, active.toLong,
            stats.map(_._2).sum, stats.map(_._3.toLong).max,
            if (nFrames == 0) 0.0
            else math.floor(active.toDouble / nFrames * 1e5 + 0.5) / 1e5,
            lead.toLong, trail.toLong)
        }
      }
      .toDF("media_id", "n_samples", "n_frames", "n_active", "energy_ssq",
        "peak_abs", "activity_ratio", "trim_lead_frames", "trim_trail_frames")
      .orderBy(col("media_id"))
  }

  /** Image-text pair prep — the LAION/CLIP-style contrastive-training
    * assembly line: media joined to its caption document by id, the
    * caption run through the same quality filters the text surface
    * uses (token count bounds), the image through [[imageQualityGate]],
    * and the output one (media_id, caption, n_tokens, width, height)
    * row per admitted pair. One equi-join on ids; both gates are
    * narrow; at 100 TB the join is the only shuffle and both sides are
    * pre-filtered before it.
    */
  def imageTextPairs(media: Dataset[Media], docs: DataFrame,
                     minTokens: Int = 3, maxTokens: Int = 512): DataFrame = {
    val gate = imageQualityGate(media).where(col("pass"))
      .select(col("media_id"), col("width"), col("height"))
    val caps = docs
      .select(col("doc_id").as("media_id"), col("text").as("caption"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .where(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
    gate.join(caps, Seq("media_id"))
      .select(col("media_id"), col("caption"), col("n_tokens"),
        col("width"), col("height"))
      .orderBy(col("media_id"))
  }

  /** Distributed corpus embedding — the OFFLINE half of the encoder
    * seam (the reference embeds its whole corpus offline with the same
    * model that serves queries; [[graft.functions.QueryEncoder]]
    * covers the query half). The encoder is resolved BY CLASS NAME
    * inside each partition, so nothing is serialized and heavyweight
    * model state (an ONNX session, a JNI handle) loads once per
    * partition, not per row — the Scala analog of a pandas_udf's
    * per-batch model cache. Pure narrow transform: embed in place, no
    * shuffle; at 100 TB throughput scales with partitions × encoder
    * batch rate.
    */
  def embedDocuments(docs: DataFrame, encoderClass: String): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        val enc = Class.forName(encoderClass).getDeclaredConstructor()
          .newInstance().asInstanceOf[graft.functions.QueryEncoder]
        rows.map { case (id, text) => (id, enc.encode(text)) }
      }
      .toDF("doc_id", "embedding")
  }
}
