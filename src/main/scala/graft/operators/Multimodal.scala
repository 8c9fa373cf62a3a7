package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (SURVEY.md §2 #42): media as opaque
  * binary columns, with decode / feature-extraction running
  * per-partition.
  *
  * IMAGE decode is REAL: javax.imageio ships PNG/JPEG codecs with the
  * JDK, so [[decodeImages]] reads true pixel data (proven by the
  * encode→decode round-trip oracle on q_image_decode). AUDIO decode is
  * REAL too: javax.sound.sampled ships a WAV/PCM codec with the JDK,
  * so [[decodeAudio]] reads true sample data (proven the same way by
  * q_audio_decode). VIDEO decode is REAL for RIFF/AVI containers with
  * uncompressed 24-bit DIB frames ([[decodeVideo]] — a hand-written
  * parser of the standard format, proven by q_video_decode's
  * round-trip oracle); compressed codecs (H.264 etc.) stay out of
  * scope on a bare JVM — for those a deployment swaps only the inner
  * per-frame decode, the distributed plumbing is identical.
  */
object Multimodal {

  // ImageIO.read's default stream cache backs every decode with a
  // TEMP FILE (create + write + delete per row) — disk I/O that
  // serializes a 32-thread decode pass the same way the MIDI
  // provider-registry lock serialized the audio path in round 6. One
  // JVM-wide switch moves the cache to memory; blobs here are already
  // byte arrays, so nothing is lost.
  javax.imageio.ImageIO.setUseCache(false)

  /** REAL per-partition feature extraction over (media_id, content)
    * rows, routed by container magic bytes — the distributed shape of
    * a media-lake featurization pass (partition-local iteration, one
    * codec instance per JVM, batch-amortized; the mapInPandas shape
    * in Scala form):
    *
    *   - PNG → javax.imageio decode → equal-width LUMINANCE histogram
    *     (blue channel; identical to decodeImages' checksum channel)
    *     of `dim` buckets: bucket = v·dim/256 for v ∈ [0, 255].
    *   - WAV → javax.sound.sampled PCM decode → equal-width SAMPLE
    *     histogram: bucket = (s + 32768)·dim/65536 for s ∈
    *     [-32768, 32767].
    *   - anything else (or a failed decode) → raw byte-value
    *     histogram (bucket = b·dim/256) with decode_ok = false — the
    *     honest fallback that keeps the pass total: one undecodable
    *     blob yields degraded features, never a task failure.
    *
    * Every histogram is integer counts (`hist`) plus its
    * L1-normalized float form (`features`). Counts are exact
    * integers, so an arithmetic oracle can recompute them from a
    * synth pixel/sample formula — this is the round-trip proof that
    * the REAL codecs feed the feature path (q_multimodal_features).
    * Same poisoned-blob guards as decodeImages: NonFatal containment
    * and a 64-megapixel dimension cap before any pixel loop.
    */
  def extractFeatures(media: DataFrame, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 256, s"dim must be in [1, 256], got $dim")
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("container", StringType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("hist", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    def isPng(b: Array[Byte]): Boolean =
      b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'
    def isWav(b: Array[Byte]): Boolean =
      b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'
    media.select(col("media_id"), col("content")).mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]]("content")
        val n = if (bytes == null) 0L else bytes.length.toLong
        val hist = new Array[Long](dim)
        var container = "other"
        var ok = false
        if (bytes != null && isPng(bytes)) {
          container = "png"
          try {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            if (img != null && img.getWidth > 0 && img.getHeight > 0 &&
                img.getWidth.toLong * img.getHeight <= 64L * 1024 * 1024) {
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  hist(((img.getRGB(x, y) & 0xff) * dim) / 256) += 1L
                  x += 1
                }
                y += 1
              }
              ok = true
            }
          } catch { case scala.util.control.NonFatal(_) => () }
        } else if (bytes != null && isWav(bytes)) {
          container = "wav"
          try {
            val ais = readAudio(bytes)
            val fmt = ais.getFormat
            if (fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
                fmt.getSampleSizeInBits == 16 && fmt.getChannels >= 1) {
              val data = ais.readAllBytes()
              val ns = data.length / 2
              var i = 0
              if (fmt.isBigEndian)
                while (i < ns) {
                  val s = ((data(2 * i) << 8) | (data(2 * i + 1) & 0xff)).toShort
                  hist(((s + 32768) * dim) / 65536) += 1L; i += 1
                }
              else
                while (i < ns) {
                  val s = (((data(2 * i + 1) << 8) | (data(2 * i) & 0xff))).toShort
                  hist(((s + 32768) * dim) / 65536) += 1L; i += 1
                }
              ok = true
            }
          } catch { case scala.util.control.NonFatal(_) => () }
        }
        if (!ok) {
          java.util.Arrays.fill(hist, 0L)
          if (bytes != null) {
            var i = 0
            while (i < bytes.length) { hist(((bytes(i) & 0xff) * dim) / 256) += 1L; i += 1 }
          }
        }
        var total = 0L
        var d = 0
        while (d < dim) { total += hist(d); d += 1 }
        val feats = new Array[Float](dim)
        if (total > 0) {
          d = 0
          while (d < dim) { feats(d) = hist(d).toFloat / total; d += 1 }
        }
        Row(r.getAs[Long]("media_id"), n, container, ok, hist.toSeq, feats.toSeq)
      }
    }(enc)
  }

  /** REAL image decode via javax.imageio (PNG/JPEG — codecs in every
    * JDK). Emits (media_id, decode_ok, width, height, pixel_sum) where
    * pixel_sum = Σ blue-channel value over all pixels — for grayscale
    * content a deterministic checksum an oracle can recompute without
    * a codec. Null or undecodable content → decode_ok=false with null
    * dims, never an exception: one poisoned blob must not kill a
    * 100 TB decode pass. Partition-local map, no shuffle; ImageIO's
    * reader lookup is per-call but codec instances are JVM-cached.
    */
  def decodeImages(media: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("pixel_sum", LongType, nullable = true)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    media.select(col("media_id"), col("content")).mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]]("content")
        // NonFatal, not just IOException: ImageIO codec readers throw
        // RuntimeExceptions (ArrayIndexOutOfBounds, NegativeArraySize,
        // IllegalArgument) on malformed headers — any of them must land
        // in decode_ok=false, not a task failure. The dimension check
        // bounds allocation against hostile width/height headers before
        // the pixel loop runs.
        val img =
          if (bytes == null) null
          else
            try {
              val i = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              if (i != null && (i.getWidth <= 0 || i.getHeight <= 0 ||
                  i.getWidth.toLong * i.getHeight > 64L * 1024 * 1024)) null
              else i
            } catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) Row(r.getAs[Long]("media_id"), false, null, null, null)
        else {
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { sum += (img.getRGB(x, y) & 0xff); x += 1 }
            y += 1
          }
          Row(r.getAs[Long]("media_id"), true, img.getWidth, img.getHeight, sum)
        }
      }
    }(enc)
  }

  /** REAL-decoded per-image gray-value histogram: (media_id, v, cnt)
    * rows with v the 8-bit blue-channel value — ≤256 narrow rows per
    * image leave the codec boundary, never pixels. The entropy /
    * contrast / exposure analytics over it are plain declarative
    * aggregation (q_image_entropy), keeping the imperative surface to
    * the decode loop alone. Same poisoned-blob contract as
    * [[decodeImages]] (undecodable content yields no rows).
    */
  def pixelHistogram(media: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("v", IntegerType, nullable = false),
      StructField("cnt", LongType, nullable = false)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    media.select(col("media_id"), col("content")).mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]]("content")
        val img =
          if (bytes == null) null
          else
            try {
              val i = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              if (i != null && (i.getWidth <= 0 || i.getHeight <= 0 ||
                  i.getWidth.toLong * i.getHeight > 64L * 1024 * 1024)) null
              else i
            } catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) Iterator.empty
        else {
          val h = new Array[Long](256)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { h(img.getRGB(x, y) & 0xff) += 1L; x += 1 }
            y += 1
          }
          val id = r.getAs[Long]("media_id")
          (0 until 256).iterator.filter(h(_) > 0).map(v => Row(id, v, h(v)))
        }
      }
    }(enc)
  }

  /** ViT-style patch grid over REAL-decoded images: the g×g patch
    * partition (patch of pixel (x, y) is (y·g div h, x·g div w) —
    * integer arithmetic, portable) with per-patch pixel count, exact
    * luminance sum, and the mean rounded at 4 dp. This is the
    * vision-training preprocessing step between decode and feature
    * extraction: g² narrow rows per image leave the codec boundary,
    * not pixels. Same decode/poisoned-blob contract as
    * [[decodeImages]]; partition-local, no shuffle.
    */
  def patchGrid(media: DataFrame, grid: Int): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("patch_row", IntegerType, nullable = false),
      StructField("patch_col", IntegerType, nullable = false),
      StructField("n_px", LongType, nullable = false),
      StructField("lum_sum", LongType, nullable = false)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    media.select(col("media_id"), col("content")).mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]]("content")
        val img =
          if (bytes == null) null
          else
            try {
              val i = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              if (i != null && (i.getWidth <= 0 || i.getHeight <= 0 ||
                  i.getWidth.toLong * i.getHeight > 64L * 1024 * 1024)) null
              else i
            } catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) Iterator.empty
        else {
          val w = img.getWidth; val h = img.getHeight
          val sums = new Array[Long](grid * grid)
          val counts = new Array[Long](grid * grid)
          var y = 0
          while (y < h) {
            val pr = y * grid / h
            var x = 0
            while (x < w) {
              val pc = x * grid / w
              val k = pr * grid + pc
              sums(k) += (img.getRGB(x, y) & 0xff)
              counts(k) += 1
              x += 1
            }
            y += 1
          }
          val id = r.getAs[Long]("media_id")
          (0 until grid * grid).iterator.filter(counts(_) > 0).map { k =>
            Row(id, k / grid, k % grid, counts(k), sums(k))
          }
        }
      }
    }(enc)
      // mean formed in the SQL layer so round() semantics match the
      // oracle's exactly (codec side emits only exact integers)
      .withColumn("lum_mean",
        round(col("lum_sum").cast("double") / col("n_px").cast("double"), 4))
  }

  /** Synthetic grayscale PNG per row — the encode half of the decode
    * round-trip proof (and a generator for codec-path tests). Pixel
    * (x, y) carries v = (id·31 + x·7 + y·13) mod 256 in all three
    * channels; PNG is lossless, so a correct decoder must read exactly
    * these values back and any oracle can recompute their sum as pure
    * arithmetic. `df` needs (idCol: long, wCol: int, hCol: int).
    */
  /** Header-only media probe: container type + principal dimensions
    * from the FIRST BYTES of the blob, as pure column algebra — no
    * codec, no mapPartitions, no row-loop JVM objects. The cheap
    * metadata pass a 100 TB media lake runs BEFORE any decode: route
    * by container, drop truncated/foreign blobs, and partition the
    * expensive decode by (container, size class) — at full scan speed
    * inside whole-stage codegen, while a decode pass costs 100-1000x.
    *
    * PNG: signature + IHDR (always the first chunk, per spec) gives
    * big-endian width/height at offsets 17/21 and bit depth at 25.
    * WAV: RIFF/WAVE with the canonical 44-byte fmt layout gives
    * little-endian channels at 23, sample rate at 25, bits/sample at
    * 35. Anything else (including NULL or truncated content — the
    * length guards keep substring from misreading) probes as
    * 'unknown' with NULL dimensions.
    *
    * Returns (idCol, container, dim1, dim2, depth) where (dim1, dim2,
    * depth) = (width, height, bit depth) for png and (channels,
    * sample_rate, bits_per_sample) for wav.
    */
  def probeHeaders(media: DataFrame, idCol: String = "media_id",
                   contentCol: String = "content"): DataFrame = {
    val b = col(contentCol)
    def u8(pos: Int) = conv(hex(substring(b, pos, 1)), 16, 10).cast("long")
    def be32(pos: Int) = conv(hex(substring(b, pos, 4)), 16, 10).cast("long")
    def le16(pos: Int) = u8(pos) + u8(pos + 1) * 256L
    def le32(pos: Int) = le16(pos) + le16(pos + 2) * 65536L
    val isPng = (length(b) >= 33) && (hex(substring(b, 1, 8)) === "89504E470D0A1A0A")
    // Beyond RIFF/WAVE, require the canonical layout the fixed
    // offsets assume: a 'fmt ' chunk tag at byte 13 and PCM
    // format tag 1 at byte 21 — a RIFF file with a leading
    // JUNK/LIST chunk or WAVE_FORMAT_EXTENSIBLE would otherwise
    // read garbage at offsets 23/25/35 and report it as real
    // dimensions instead of probing 'unknown'.
    val isWav = (length(b) >= 44) && (hex(substring(b, 1, 4)) === "52494646") &&
      (hex(substring(b, 9, 4)) === "57415645") &&
      (hex(substring(b, 13, 4)) === "666D7420") &&
      (le16(21) === 1L)
    media.select(col(idCol),
      when(isPng, "png").when(isWav, "wav").otherwise("unknown").as("container"),
      when(isPng, be32(17)).when(isWav, le16(23)).as("dim1"),
      when(isPng, be32(21)).when(isWav, le32(25)).as("dim2"),
      when(isPng, u8(25)).when(isWav, le16(35)).as("depth"))
  }

  def synthGrayPng(df: DataFrame, idCol: String, wCol: String, hCol: String): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("content", BinaryType, nullable = true)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    df.select(col(idCol).cast("long").as("media_id"),
        col(wCol).cast("int").as("w"), col(hCol).cast("int").as("h"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val w = r.getInt(1); val h = r.getInt(2)
          val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = ((id * 31 + x * 7 + y * 13) % 256).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          Row(id, "image", bos.toByteArray)
        }
      }(enc)
  }

  /** synthGrayPng with the pixel seed decoupled from the media id plus
    * a single-pixel perturbation: pixel (x, y) carries
    * v = ((seed·31 + x·7 + y·13)·(seed·13 + x·101 + y·31) div 16
    *      + (x = y = 0 ? delta : 0)) mod 256.
    * The PRODUCT of two seed-dependent linear forms makes the
    * brightness-gradient structure itself a function of the seed — a
    * purely additive seed term shifts every pixel equally, which a
    * gradient hash like dHash is INVARIANT to (measured: ~40% of a
    * 500-image additive-formula corpus collided at Hamming 0). Rows
    * sharing a seed are near-identical images under different ids —
    * the planted positives a perceptual-hash dedup oracle needs
    * (delta = 0 → exact duplicate, small delta → near-duplicate).
    * `df` needs (idCol: long, seedCol: long, wCol: int, hCol: int,
    * deltaCol: int).
    *
    * The raw seed is first folded to s = (seed·2654435761) mod 10^8:
    * without the fold the quadratic term overflows int64 for seeds
    * ≥ ~1.5·10^8 — which ScaleUp's id-shifted copies actually reach —
    * and a silent Scala wrap where the DuckDB oracle hard-errors
    * would break the pure-arithmetic oracle contract exactly at the
    * scales the ladder benchmarks. After the fold every intermediate
    * fits int64 on both engines for any nonnegative seed; fold
    * collisions merely plant extra (identically computed) duplicate
    * pairs at ~n²/2·10^-8 odds.
    */
  def synthGrayPngSeeded(df: DataFrame, idCol: String, seedCol: String,
                         wCol: String, hCol: String, deltaCol: String): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("content", BinaryType, nullable = true)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    df.select(col(idCol).cast("long").as("media_id"),
        col(seedCol).cast("long").as("seed"),
        col(wCol).cast("int").as("w"), col(hCol).cast("int").as("h"),
        col(deltaCol).cast("int").as("delta"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val seed = java.lang.Math.floorMod(r.getLong(1) * 2654435761L, 100000000L)
          val w = r.getInt(2); val h = r.getInt(3); val delta = r.getInt(4)
          val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val d = if (x == 0 && y == 0) delta else 0
              val v = java.lang.Math.floorMod(
                (seed * 31 + x * 7 + y * 13) * (seed * 13 + x * 101 + y * 31) / 16 + d, 256L).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          Row(id, "image", bos.toByteArray)
        }
      }(enc)
  }

  /** Difference hash (dHash) — the standard perceptual image
    * fingerprint (64 brightness-gradient bits from a 9x8 downsample;
    * near-duplicate images differ in a few bits, so Hamming distance
    * over dHash is how an image corpus deduplicates without pixel-exact
    * matching). Integer-exact by construction: each of the 9x8 cells
    * takes the SUM of the source pixels mapping to it (cell(cx) =
    * pixels with x·9 div w = cx — every cell is non-empty when
    * w >= 9, h >= 8, which the dimension guard enforces), and the
    * left>right comparison cross-multiplies sums and counts instead of
    * dividing — no float rounding anywhere, so an oracle recomputes
    * the hash as pure arithmetic from known pixel values. The 64 bits
    * ship as two non-negative 32-bit halves (hash_hi = grid rows 0-3,
    * bit cx + 8·cy; hash_lo = rows 4-7) to keep sign/overflow
    * semantics trivially portable across engines.
    *
    * Scale shape: partition-local map (decode + 72 integer cells per
    * image), no shuffle; undecodable or sub-9x8 content →
    * decode_ok = false, never an exception.
    */
  def dHashImages(media: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("hash_hi", LongType, nullable = true),
      StructField("hash_lo", LongType, nullable = true)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    media.select(col("media_id"), col("content")).mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]]("content")
        val img =
          if (bytes == null) null
          else
            try {
              val i = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              if (i != null && (i.getWidth < 9 || i.getHeight < 8 ||
                  i.getWidth.toLong * i.getHeight > 64L * 1024 * 1024)) null
              else i
            } catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) Row(r.getAs[Long]("media_id"), false, null, null)
        else {
          val w = img.getWidth; val h = img.getHeight
          val sums = Array.ofDim[Long](9, 8)
          val cnts = Array.ofDim[Long](9, 8)
          var y = 0
          while (y < h) {
            val cy = y * 8 / h
            var x = 0
            while (x < w) {
              val cx = x * 9 / w
              sums(cx)(cy) += (img.getRGB(x, y) & 0xff)
              cnts(cx)(cy) += 1
              x += 1
            }
            y += 1
          }
          var hi = 0L; var lo = 0L
          var cy = 0
          while (cy < 8) {
            var cx = 0
            while (cx < 8) {
              // avg(cx) > avg(cx+1)  ⇔  sum_l·cnt_r > sum_r·cnt_l
              val bit = sums(cx)(cy) * cnts(cx + 1)(cy) > sums(cx + 1)(cy) * cnts(cx)(cy)
              if (bit) {
                if (cy < 4) hi |= 1L << (cx + 8 * cy)
                else lo |= 1L << (cx + 8 * (cy - 4))
              }
              cx += 1
            }
            cy += 1
          }
          Row(r.getAs[Long]("media_id"), true, hi, lo)
        }
      }
    }(enc)
  }

  /** Near-duplicate image pairs over [[dHashImages]] output: banded
    * LSH on the four 16-bit quarters of the 64-bit dHash (two images
    * within Hamming distance `maxHamming` usually agree on at least
    * one quarter — the same band/verify economics as MinHash-LSH, so
    * a 100 TB image corpus shuffles (band, key, id) rows, never
    * pixels), then an exact Hamming verify on the candidates. Banding
    * recall is part of the CONTRACT (a pair differing in all four
    * quarters is not a candidate), which is what makes the operator
    * oracle-reproducible: the oracle implements the identical
    * band+verify chain. Emits (media_id_a, media_id_b, hamming) with
    * a < b.
    *
    * `bandBits` (16 or 32) is the scale knob: candidate pairs grow
    * ~n²/2^bandBits (and faster where gradient structure clusters the
    * band keys), so like the embedding dedup's hyperplane count it
    * must grow with the corpus — at 16 the quadratic term is already
    * visible at 180k images (3.7 s → 20.4 s across a 3× data step,
    * 5.5×, where the codec share alone would scale linearly);
    * a 100 TB image corpus runs 2×32-bit bands (recall drops to
    * pairs agreeing on one 32-bit half, i.e. hamming concentrated in
    * the other half — acceptable when near-dups are hamming ≤ 2-3).
    */
  def dHashNearDup(hashes: DataFrame, maxHamming: Int, bandBits: Int = 16): DataFrame = {
    require(bandBits == 16 || bandBits == 32, s"bandBits must be 16 or 32, got $bandBits")
    // Eagerly materialized: both sides of the band self-join read this
    // frame, and without the checkpoint Spark evaluates the upstream
    // decode subtree TWICE — measured as ~2x the whole query, since
    // the codec pass dwarfs the join. The checkpoint holds three longs
    // per image, not pixels.
    val h = hashes.filter(col("decode_ok"))
      .select(col("media_id"), col("hash_hi"), col("hash_lo"))
      .localCheckpoint(true)
    val bandStructs =
      if (bandBits == 16) array(
        struct(lit(0).as("band"), shiftright(col("hash_hi"), 16).as("key")),
        struct(lit(1).as("band"), (col("hash_hi") % 65536).as("key")),
        struct(lit(2).as("band"), shiftright(col("hash_lo"), 16).as("key")),
        struct(lit(3).as("band"), (col("hash_lo") % 65536).as("key")))
      else array(
        struct(lit(0).as("band"), col("hash_hi").as("key")),
        struct(lit(1).as("band"), col("hash_lo").as("key")))
    val banded = h.select(col("media_id"), col("hash_hi"), col("hash_lo"),
      explode(bandStructs).as("bk"))
      .select(col("media_id"), col("hash_hi"), col("hash_lo"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.select(col("band"), col("key"), col("media_id").as("id_a"),
      col("hash_hi").as("hi_a"), col("hash_lo").as("lo_a"))
    val b = banded.select(col("band"), col("key"), col("media_id").as("id_b"),
      col("hash_hi").as("hi_b"), col("hash_lo").as("lo_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select(col("id_a").as("media_id_a"), col("id_b").as("media_id_b"), col("hamming"))
  }

  /** Audio SPI providers cached once per executor JVM:
    * AudioSystem.getAudioInputStream / .write resolve providers through
    * a SYNCHRONIZED global registry on every call, which serializes a
    * 32-thread decode pass (measured 20x wall at 10x rows before this
    * cache — lock contention, not decode cost). Iterating a cached
    * immutable provider list is the same real codec (WaveFileReader /
    * WaveFileWriter) without the global lock.
    */
  private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.toSeq
      // SoftMidiAudioFileReader consults the synchronized MIDI provider
      // registry (JSSecurityManager.getProviders) on EVERY probe — with
      // it in the chain a 32-thread decode pass serializes on that
      // class lock (jstack-verified). MIDI rendering is out of scope
      // for PCM decode; drop it and probe WAVE readers first so the
      // common case touches exactly one provider.
      .filterNot(_.getClass.getName.contains("Midi"))
      .sortBy(r => if (r.getClass.getName.contains("Wave")) 0 else 1)
  }
  private def readAudio(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val it = audioReaders.iterator
    while (it.hasNext) {
      val r = it.next()
      try return r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException("no provider")
  }

  /** REAL audio decode via javax.sound.sampled (WAV/PCM — codec in
    * every JDK). Emits (media_id, decode_ok, channels, sample_rate,
    * n_samples, sample_sum) where sample_sum = Σ signed sample value
    * over all frames and channels — PCM is lossless, so for synthetic
    * content an oracle recomputes the sum as pure arithmetic. Null,
    * undecodable, or non-16-bit-PCM content → decode_ok=false, never
    * an exception (same poisoned-blob contract as [[decodeImages]]).
    * Partition-local map, no shuffle.
    */
  def decodeAudio(media: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("channels", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("sample_sum", LongType, nullable = true)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    media.select(col("media_id"), col("content")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Long]("media_id")
        val bytes = r.getAs[Array[Byte]]("content")
        val decoded: Option[Row] =
          if (bytes == null) None
          else
            try {
              val ais = readAudio(bytes)
              val fmt = ais.getFormat
              val pcm16 =
                fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
                  fmt.getSampleSizeInBits == 16 && fmt.getChannels >= 1
              if (!pcm16) None
              else {
                // actual stream bytes bound the read regardless of what a
                // hostile header claims as frame length
                val data = ais.readAllBytes()
                val n = data.length / 2
                var sum = 0L
                var i = 0
                if (fmt.isBigEndian)
                  while (i < n) { sum += ((data(2 * i) << 8) | (data(2 * i + 1) & 0xff)).toShort; i += 1 }
                else
                  while (i < n) { sum += (((data(2 * i + 1) << 8) | (data(2 * i) & 0xff))).toShort; i += 1 }
                Some(Row(id, true, fmt.getChannels, fmt.getSampleRate.toInt,
                  (n / fmt.getChannels).toLong, sum))
              }
            } catch { case scala.util.control.NonFatal(_) => None }
        decoded.getOrElse(Row(id, false, null, null, null, null))
      }
    }(enc)
  }

  /** REAL audio feature extraction over decoded PCM: root-mean-square
    * energy, zero-crossing count, and peak amplitude — the standard
    * cheap audio-quality/speech-detection signals a training-data
    * pipeline filters on. Same decode path and poisoned-blob contract
    * as [[decodeAudio]]; features are integer/fixed-point arithmetic
    * over the samples, so a synthetic wave's features are
    * oracle-recomputable exactly. Partition-local map, no shuffle.
    */
  def audioFeatures(media: DataFrame): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("n_samples", LongType, nullable = true),
      StructField("sum_sq", LongType, nullable = true),
      StructField("zero_crossings", LongType, nullable = true),
      StructField("peak", IntegerType, nullable = true)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    media.select(col("media_id"), col("content")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Long]("media_id")
        val bytes = r.getAs[Array[Byte]]("content")
        val decoded: Option[Row] =
          if (bytes == null) None
          else
            try {
              val ais = readAudio(bytes)
              val fmt = ais.getFormat
              val pcm16 =
                fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
                  fmt.getSampleSizeInBits == 16 && fmt.getChannels >= 1
              if (!pcm16) None
              else {
                val data = ais.readAllBytes()
                val n = data.length / 2
                var sumSq = 0L
                var zc = 0L
                var peak = 0
                var prev = 0
                var i = 0
                while (i < n) {
                  val v: Int =
                    if (fmt.isBigEndian) ((data(2 * i) << 8) | (data(2 * i + 1) & 0xff)).toShort
                    else (((data(2 * i + 1) << 8) | (data(2 * i) & 0xff))).toShort
                  sumSq += v.toLong * v
                  if (i > 0 && ((prev >= 0 && v < 0) || (prev < 0 && v >= 0))) zc += 1
                  val a = math.abs(v)
                  if (a > peak) peak = a
                  prev = v
                  i += 1
                }
                Some(Row(id, true, n.toLong, sumSq, zc, peak))
              }
            } catch { case scala.util.control.NonFatal(_) => None }
        decoded.getOrElse(Row(id, false, null, null, null, null))
      }
    }(enc)
  }

  /** Synthetic mono 16-bit PCM WAV per row — the encode half of the
    * audio decode round-trip proof. Sample i carries
    * v = ((id·31 + i·7) mod 4096) − 2048, so a correct decoder must
    * read exactly these values back and any oracle can recompute their
    * sum as pure arithmetic. `df` needs (idCol: long, nCol: int =
    * sample count).
    *
    * The RIFF/WAVE container is written by hand (44-byte canonical
    * header + little-endian PCM): javax.sound's writer path costs
    * ~100x more per row and serializes threads in the provider
    * registry, and a fixed header is byte-deterministic — the spec
    * proves the JDK codec reads it back. The DECODE side stays the
    * real codec; that is the half the round-trip oracle exists to
    * prove.
    */
  def synthPcmWav(df: DataFrame, idCol: String, nCol: String): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("content", BinaryType, nullable = true)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    df.select(col(idCol).cast("long").as("media_id"), col(nCol).cast("int").as("n"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val n = r.getInt(1)
          val dataLen = n * 2
          val w = new Array[Byte](44 + dataLen)
          def w32(off: Int, v: Int): Unit = {
            w(off) = (v & 0xff).toByte; w(off + 1) = ((v >> 8) & 0xff).toByte
            w(off + 2) = ((v >> 16) & 0xff).toByte; w(off + 3) = ((v >> 24) & 0xff).toByte
          }
          def w16(off: Int, v: Int): Unit = {
            w(off) = (v & 0xff).toByte; w(off + 1) = ((v >> 8) & 0xff).toByte
          }
          "RIFF".getBytes("US-ASCII").copyToArray(w, 0); w32(4, 36 + dataLen)
          "WAVE".getBytes("US-ASCII").copyToArray(w, 8)
          "fmt ".getBytes("US-ASCII").copyToArray(w, 12)
          w32(16, 16) // fmt chunk size
          w16(20, 1) // PCM
          w16(22, 1) // mono
          w32(24, 8000) // sample rate
          w32(28, 16000) // byte rate
          w16(32, 2) // block align
          w16(34, 16) // bits per sample
          "data".getBytes("US-ASCII").copyToArray(w, 36); w32(40, dataLen)
          var i = 0
          while (i < n) {
            val v = (((id * 31 + i * 7) % 4096) - 2048).toInt
            w16(44 + 2 * i, v)
            i += 1
          }
          Row(id, "audio", w)
        }
      }(enc)
  }

  /** Synthetic mono PCM WAV carrying a pure sine tone at DFT bin
    * `(id % 8 + 1) * 4` of an N-sample window — the encode half of
    * the spectral-analysis proof: by DFT orthogonality a full-window
    * Goertzel at exactly that bin captures (essentially) all the
    * tone's energy, so [[audioBandEnergy]]'s dominant band must equal
    * the planted bin. Same hand-rolled RIFF header as
    * [[synthPcmWav]] (and the same reason: the provider-registry
    * writer serializes threads).
    */
  def synthToneWav(df: DataFrame, idCol: String, nCol: String): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("content", BinaryType, nullable = true)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    df.select(col(idCol).cast("long").as("media_id"), col(nCol).cast("int").as("n"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val n = r.getInt(1)
          val bin = ((id % 8) + 1) * 4
          val dataLen = n * 2
          val w = new Array[Byte](44 + dataLen)
          def w32(off: Int, v: Int): Unit = {
            w(off) = (v & 0xff).toByte; w(off + 1) = ((v >> 8) & 0xff).toByte
            w(off + 2) = ((v >> 16) & 0xff).toByte; w(off + 3) = ((v >> 24) & 0xff).toByte
          }
          def w16(off: Int, v: Int): Unit = {
            w(off) = (v & 0xff).toByte; w(off + 1) = ((v >> 8) & 0xff).toByte
          }
          "RIFF".getBytes("US-ASCII").copyToArray(w, 0); w32(4, 36 + dataLen)
          "WAVE".getBytes("US-ASCII").copyToArray(w, 8)
          "fmt ".getBytes("US-ASCII").copyToArray(w, 12)
          w32(16, 16); w16(20, 1); w16(22, 1); w32(24, 8000); w32(28, 16000)
          w16(32, 2); w16(34, 16)
          "data".getBytes("US-ASCII").copyToArray(w, 36); w32(40, dataLen)
          var i = 0
          while (i < n) {
            val v = (8000.0 * StrictMath.sin(2.0 * StrictMath.PI * bin * i / n)).toInt
            w16(44 + 2 * i, v)
            i += 1
          }
          Row(id, "audio", w)
        }
      }(enc)
  }

  /** Spectral band energy over decoded PCM via the Goertzel recurrence
    * — the per-bin DFT power without an FFT library, the standard
    * cheap spectral fingerprint (tone/DTMF detection, bandwidth
    * estimation, speech-vs-silence gating) a multimodal curation pass
    * computes per clip. `bands` are DFT bin numbers of the full
    * sample window. Emits the argmax band index (ties → lowest) and
    * the rounded fraction of measured energy it holds. Same decode
    * path and poisoned-blob contract as [[decodeAudio]];
    * partition-local map, no shuffle — at 100 TB this is scan-bound
    * exactly like the image decode pass.
    */
  def audioBandEnergy(media: DataFrame, bands: Seq[Int]): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("dominant_band", IntegerType, nullable = true),
      StructField("dominant_share", DoubleType, nullable = true)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    val bandArr = bands.toArray
    media.select(col("media_id"), col("content")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Long]("media_id")
        val bytes = r.getAs[Array[Byte]]("content")
        val decoded: Option[Row] =
          if (bytes == null) None
          else
            try {
              val ais = readAudio(bytes)
              val fmt = ais.getFormat
              val pcm16 =
                fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
                  fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1
              if (!pcm16) None
              else {
                val data = ais.readAllBytes()
                val n = data.length / 2
                if (n == 0) None
                else {
                  val x = new Array[Double](n)
                  var i = 0
                  if (fmt.isBigEndian)
                    while (i < n) { x(i) = ((data(2 * i) << 8) | (data(2 * i + 1) & 0xff)).toShort.toDouble; i += 1 }
                  else
                    while (i < n) { x(i) = (((data(2 * i + 1) << 8) | (data(2 * i) & 0xff))).toShort.toDouble; i += 1 }
                  val powers = bandArr.map { k =>
                    val w = 2.0 * StrictMath.PI * k / n
                    val c = 2.0 * StrictMath.cos(w)
                    var s1 = 0.0; var s2 = 0.0
                    var j = 0
                    while (j < n) { val s0 = x(j) + c * s1 - s2; s2 = s1; s1 = s0; j += 1 }
                    s1 * s1 + s2 * s2 - c * s1 * s2
                  }
                  var best = 0; var total = 0.0
                  var b = 0
                  while (b < powers.length) {
                    total += powers(b)
                    if (powers(b) > powers(best)) best = b
                    b += 1
                  }
                  val share = if (total > 0) powers(best) / total else 0.0
                  Some(Row(id, true, best, math.rint(share * 100) / 100))
                }
              }
            } catch { case scala.util.control.NonFatal(_) => None }
        decoded.getOrElse(Row(id, false, null, null))
      }
    }(enc)
  }

  /** Resize stub for image-kind rows: the metadata transform is real
    * (target dims land in `meta`, a real codec would be called in the
    * partition loop), the payload "resample" is a deterministic prefix
    * of ceil(len × targetPixels/origPixels) bytes — so byte accounting
    * stays oracle-checkable end-to-end. Pure column algebra: resizing
    * a 100 TB image corpus is one map pass.
    */
  def resizeImages(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val origPixels = col("meta.width").cast("double") * col("meta.height").cast("double")
    val scale = least(lit(1.0), lit(targetW.toDouble * targetH) / origPixels)
    val outLen = ceil(length(col("content")).cast("double") * scale).cast("int")
    media
      .filter(col("kind") === "image")
      .select(
        col("media_id"),
        struct(
          lit(targetW).as("width"), lit(targetH).as("height"),
          col("meta.format").as("format")).as("meta"),
        col("content").substr(lit(1), outLen).as("content"))
  }

  /** REAL video decode for RIFF/AVI containers with uncompressed
    * 24-bit DIB frames (BI_RGB '00db'/'00dc' chunks) — the one video
    * format a bare JVM can decode without a codec library, and the
    * lossless one, so a synth→decode round-trip oracle is pure
    * arithmetic (same proof pattern as q_image_decode/q_audio_decode).
    * Emits (media_id, decode_ok, width, height, n_frames, n_sampled,
    * pixel_sum) where pixel_sum = Σ blue-channel value over every
    * `stride`-th frame (frame sampling fused into the decode — a
    * training pipeline never materializes all frames). DIB rows are
    * stored BOTTOM-UP and padded to 4-byte boundaries; the parser
    * honors both. Poisoned-blob contract as [[decodeImages]]: any
    * malformed header, truncated chunk, frame-size mismatch, or
    * compressed/paletted content → decode_ok=false, never an
    * exception; dimension and frame-count bounds cap allocation from
    * hostile headers. Partition-local map, no shuffle.
    */
  def decodeVideo(media: DataFrame, stride: Int): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true),
      StructField("n_sampled", IntegerType, nullable = true),
      StructField("pixel_sum", LongType, nullable = true)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    media.select(col("media_id"), col("content")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getAs[Long]("media_id")
        val bytes = r.getAs[Array[Byte]]("content")
        val decoded: Option[Row] =
          if (bytes == null) None
          else
            try {
              def u32(off: Int): Long =
                ((bytes(off) & 0xffL)) | ((bytes(off + 1) & 0xffL) << 8) |
                  ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
              def fourcc(off: Int): String =
                new String(bytes, off, 4, "US-ASCII")
              if (bytes.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ") None
              else {
                // One sequential walk over chunk headers: LIST chunks
                // are stepped INTO (their payload is more chunks, so
                // every position visited is a chunk header), leaf
                // chunks are consumed or skipped whole. RIFF sizes
                // exclude the 8-byte header; chunks pad to even.
                var w = 0; var h = 0; var bitCount = 0; var compression = -1L
                var haveFmt = false
                var nFrames = 0; var nSampled = 0; var sum = 0L
                var bad = false
                var pos = 12
                while (!bad && pos + 8 <= bytes.length) {
                  val cc = fourcc(pos)
                  val sz = u32(pos + 4)
                  if (sz > bytes.length.toLong || pos + 8 + sz > bytes.length) bad = true
                  else if (cc == "LIST") { pos += 12 }
                  else {
                    if (cc == "strf" && sz >= 40) {
                      w = u32(pos + 8 + 4).toInt
                      h = u32(pos + 8 + 8).toInt
                      bitCount = ((bytes(pos + 8 + 14) & 0xff) | ((bytes(pos + 8 + 15) & 0xff) << 8))
                      compression = u32(pos + 8 + 16)
                      haveFmt = true
                      if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) bad = true
                    } else if (cc == "00db" || cc == "00dc") {
                      if (!haveFmt || compression != 0L || bitCount != 24) bad = true
                      else {
                        val rowBytes = ((w * 3 + 3) / 4) * 4
                        if (sz != rowBytes.toLong * h || nFrames >= 1000000) bad = true
                        else {
                          if (nFrames % stride == 0) {
                            nSampled += 1
                            // bottom-up rows: stored row 0 is image row h-1 —
                            // irrelevant for a sum, but walk honestly anyway
                            var sy = 0
                            while (sy < h) {
                              val rowOff = pos + 8 + sy * rowBytes
                              var x = 0
                              while (x < w) { sum += bytes(rowOff + 3 * x) & 0xff; x += 1 }
                              sy += 1
                            }
                          }
                          nFrames += 1
                        }
                      }
                    }
                    pos += 8 + sz.toInt + (sz.toInt & 1) // chunks pad to even
                  }
                }
                if (bad || !haveFmt || nFrames == 0) None
                else Some(Row(id, true, w, h, nFrames, nSampled, sum))
              }
            } catch { case scala.util.control.NonFatal(_) => None }
        decoded.getOrElse(Row(id, false, null, null, null, null, null))
      }
    }(enc)
  }

  /** Synthetic uncompressed-DIB AVI per row — the encode half of the
    * video decode round-trip proof. Frame f, pixel (x, y) carries
    * v = (id·31 + f·17 + x·7 + y·13) mod 256 in all three channels
    * (gray, so channel order is moot); rows are written bottom-up with
    * 4-byte padding per the DIB spec. The container carries the full
    * standard header chain (avih + strh('vids'/'DIB ') + strf
    * BITMAPINFOHEADER) so any AVI-aware reader accepts it. `df` needs
    * (idCol: long, wCol: int, hCol: int, nCol: int = frame count).
    */
  def synthDibAvi(df: DataFrame, idCol: String, wCol: String, hCol: String, nCol: String): DataFrame = {
    val out = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("content", BinaryType, nullable = true)
    ))
    val enc = org.apache.spark.sql.Encoders.row(out)
    df.select(col(idCol).cast("long").as("media_id"),
        col(wCol).cast("int").as("w"), col(hCol).cast("int").as("h"),
        col(nCol).cast("int").as("n"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val w = r.getInt(1); val h = r.getInt(2); val n = r.getInt(3)
          val rowBytes = ((w * 3 + 3) / 4) * 4
          val frameSz = rowBytes * h
          val hdrlSz = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40)) // 'hdrl' + avih + LIST strl
          val moviSz = 4 + n * (8 + frameSz)
          val riffSz = 4 + (8 + hdrlSz) + (8 + moviSz)
          val buf = new Array[Byte](8 + riffSz)
          var p = 0
          def putCc(s: String): Unit = { s.getBytes("US-ASCII").copyToArray(buf, p); p += 4 }
          def put32(v: Int): Unit = {
            buf(p) = (v & 0xff).toByte; buf(p + 1) = ((v >> 8) & 0xff).toByte
            buf(p + 2) = ((v >> 16) & 0xff).toByte; buf(p + 3) = ((v >> 24) & 0xff).toByte
            p += 4
          }
          def put16(v: Int): Unit = {
            buf(p) = (v & 0xff).toByte; buf(p + 1) = ((v >> 8) & 0xff).toByte; p += 2
          }
          putCc("RIFF"); put32(riffSz); putCc("AVI ")
          putCc("LIST"); put32(hdrlSz); putCc("hdrl")
          putCc("avih"); put32(56)
          put32(100000); put32(frameSz * 10); put32(0); put32(0) // usec/frame, bytes/sec, pad, flags
          put32(n); put32(0); put32(1); put32(frameSz) // frames, initial, streams, sugBuf
          put32(w); put32(h); put32(0); put32(0); put32(0); put32(0) // dims + reserved
          putCc("LIST"); put32(4 + (8 + 56) + (8 + 40)); putCc("strl")
          putCc("strh"); put32(56)
          putCc("vids"); putCc("DIB ")
          put32(0); put32(0); put32(0) // flags, prio+lang, initialFrames
          put32(1); put32(10) // scale, rate = 10 fps
          put32(0); put32(n); put32(frameSz); put32(0); put32(0) // start, length, sugBuf, quality, sampleSize
          put16(0); put16(0); put16(w); put16(h) // rcFrame
          putCc("strf"); put32(40)
          put32(40); put32(w); put32(h); put16(1); put16(24) // biSize, w, h, planes, bits
          put32(0); put32(frameSz); put32(0); put32(0); put32(0); put32(0) // BI_RGB, sizeImage, ppm, clr
          putCc("LIST"); put32(moviSz); putCc("movi")
          var f = 0
          while (f < n) {
            putCc("00db"); put32(frameSz)
            var sy = 0
            while (sy < h) { // stored bottom-up: stored row sy = image row h-1-sy
              val y = h - 1 - sy
              var x = 0
              while (x < w) {
                val v = ((id * 31 + f * 17 + x * 7 + y * 13) % 256).toByte
                buf(p + 3 * x) = v; buf(p + 3 * x + 1) = v; buf(p + 3 * x + 2) = v
                x += 1
              }
              p += rowBytes
              sy += 1
            }
            f += 1
          }
          Row(id, "video", buf)
        }
      }(enc)
  }

  /** Frame sampling stub for video-kind rows: every `stride`-th byte
    * window stands in for a frame; the plumbing (explode to one row per
    * frame with an index) matches a real frame sampler.
    */
  def sampleFrames(media: DataFrame, stride: Int, frameBytes: Int): DataFrame =
    media
      .filter(col("kind") === "video")
      .select(
        col("media_id"),
        posexplode(
          transform(
            sequence(lit(0), greatest(ceil(length(col("content")) / stride) - 1, lit(0)).cast("int")),
            i => substring(col("content"), (i * stride + 1).cast("int"), lit(frameBytes))
          )
        ).as(Seq("frame_idx", "frame_bytes"))
      )
}
