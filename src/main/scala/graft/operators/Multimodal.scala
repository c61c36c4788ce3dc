package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import MediaCodecs._

/** Multimodal-column operators: image/audio/video payloads ride through
  * the engine as opaque `binary` columns with a typed metadata struct;
  * decode / feature-extract / resize / frame-sample run partition-wise
  * over those bytes with REAL pure-JVM codecs ([[MediaCodecs]]: binary
  * PPM images, RIFF/WAV 16-bit PCM audio, FRM0 concatenated-frame
  * video). Every operator parses the actual bytes — magic sniffing,
  * header grammar, sample/pixel walks — and never trusts the metadata
  * column.
  *
  * Distributed shape (the part that matters at 100 TB): all three
  * operators are `mapPartitions` over the payload column — no shuffle,
  * no driver collect, per-partition (not per-row) codec setup, rows
  * streaming through without materializing a partition. Decode failures
  * DROP with a counter-friendly row shape rather than throw (the ELB
  * parser's malformed-line discipline, reference elb_logs.py:120-141,
  * applied to bytes).
  *
  * Test data: payloads are synthesized as VALID files of each format
  * from integer formulas of the row id ([[synthesizeMedia]]), so the
  * DuckDB oracle can recompute every decoded statistic in closed form —
  * a header-parse or byte-walk bug diverges from the oracle hash.
  */
object Multimodal {

  /** Typed metadata carried beside the payload — advisory only; the
    * decoders re-derive every field from the bytes.
    */
  case class MediaMeta(media_type: String, width: Int, height: Int,
      sample_rate: Int, n_frames: Int)

  case class MediaRecord(media_id: Long, payload: Array[Byte], meta: MediaMeta)

  // ---- deterministic synthesis (test-data generator) -----------------

  /** Valid-payload synthesis from a row id. Formulas are mirrored by
    * the DuckDB oracle in closed form; see MiscQueries.entries.
    *  - id % 3 == 0 → PPM image, w = 16+(id%8)·4, h = 12+(id%5)·4,
    *    pixel byte i = (i + id) % 256
    *  - id % 3 == 1 → WAV mono 16-bit, rate = 8000+(id%3)·4000,
    *    n = 500 + id%300 samples, sample k = ((k + id) % 2001) − 1000
    *  - id % 3 == 2 → FRM0 16×12 grayscale, 4 + id%12 frames,
    *    global byte j = (j + id) % 256
    */
  def synthesizePayload(id: Long): (Array[Byte], MediaMeta) = (id % 3) match {
    case 0 =>
      val w = (16 + id % 8 * 4).toInt; val h = (12 + id % 5 * 4).toInt
      val px = new Array[Byte](w * h * 3)
      var i = 0
      while (i < px.length) { px(i) = ((i + id) % 256).toByte; i += 1 }
      (Ppm.encode(DecodedImage(w, h, px)), MediaMeta("image", w, h, 0, 0))
    case 1 =>
      val rate = (8000 + id % 3 * 4000).toInt
      val n = (500 + id % 300).toInt
      val samples = new Array[Short](n)
      var k = 0
      while (k < n) { samples(k) = (((k + id) % 2001) - 1000).toShort; k += 1 }
      (Wav.encode(DecodedAudio(rate, samples)), MediaMeta("audio", 0, 0, rate, 0))
    case _ =>
      val w = 16; val h = 12
      val nf = (4 + id % 12).toInt
      val data = new Array[Byte](w * h * nf)
      var j = 0
      while (j < data.length) { data(j) = ((j + id) % 256).toByte; j += 1 }
      (Frm0.encode(DecodedFrames(w, h, nf, data)), MediaMeta("video", w, h, 0, nf))
  }

  /** Attach a synthesized valid media payload to each row of `df` —
    * the test-data stand-in for reading real media files; everything
    * downstream treats the column as opaque bytes.
    */
  def synthesizeMedia(df: DataFrame, idCol: String): Dataset[MediaRecord] = {
    implicit val enc = Encoders.product[MediaRecord]
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map { id =>
        val (payload, meta) = synthesizePayload(id)
        MediaRecord(id, payload, meta)
      }
    }
  }

  // ---- decode + feature extraction -----------------------------------

  /** Unified per-media features, all derived from DECODED bytes. Fields
    * that don't apply to a media type are None; `checksum` is the
    * payload md5 (golden-tested; the SQL oracle can't synthesize binary
    * so the driver query projects it away).
    */
  case class MediaFeatures(
      media_id: Long,
      media_type: String,
      byte_len: Long,
      width: Option[Int], height: Option[Int],
      px_sum: Option[Long], px_min: Option[Int], px_max: Option[Int],
      sample_rate: Option[Int], n_samples: Option[Long],
      audio_sum: Option[Long], audio_sumsq: Option[Long],
      n_frames: Option[Int],
      checksum: String)

  private def md5hex(bytes: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(bytes).map("%02x".format(_)).mkString
  }

  private def byteStats(bytes: Array[Byte]): (Long, Int, Int) = {
    var sum = 0L; var mn = 255; var mx = 0
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      sum += v
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    (sum, mn, mx)
  }

  /** Partition-wise decode + feature extraction (the `mapInPandas`
    * batch-UDF shape, in typed Scala). Undecodable payloads are
    * dropped, never thrown.
    */
  def decodeFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    ds.mapPartitions { it =>
      it.flatMap { r =>
        MediaCodecs.decode(r.payload).toOption.map {
          case DecodedImage(w, h, px) =>
            val (s, mn, mx) = byteStats(px)
            MediaFeatures(r.media_id, "image", r.payload.length.toLong,
              Some(w), Some(h), Some(s), Some(mn), Some(mx),
              None, None, None, None, None, md5hex(r.payload))
          case DecodedAudio(rate, samples) =>
            var s = 0L; var s2 = 0L
            var i = 0
            while (i < samples.length) {
              val v = samples(i).toLong; s += v; s2 += v * v; i += 1
            }
            MediaFeatures(r.media_id, "audio", r.payload.length.toLong,
              None, None, None, None, None,
              Some(rate), Some(samples.length.toLong), Some(s), Some(s2),
              None, md5hex(r.payload))
          case DecodedFrames(w, h, nf, data) =>
            val (s, mn, mx) = byteStats(data)
            MediaFeatures(r.media_id, "video", r.payload.length.toLong,
              Some(w), Some(h), Some(s), Some(mn), Some(mx),
              None, None, None, None, Some(nf), md5hex(r.payload))
        }
      }
    }
  }

  // ---- image resize ---------------------------------------------------

  case class ResizedImage(media_id: Long, src_w: Int, src_h: Int,
      out_w: Int, out_h: Int, px_sum: Long, px_min: Int, px_max: Int,
      out_md5: String)

  /** Real nearest-neighbor resize over decoded rasters: decode PPM →
    * resample → stats + checksum of the re-encoded output. 1:1
    * partition-wise; non-image or malformed payloads drop.
    */
  def resizeImages(ds: Dataset[MediaRecord], targetW: Int, targetH: Int): Dataset[ResizedImage] = {
    implicit val enc = Encoders.product[ResizedImage]
    require(targetW > 0 && targetH > 0, s"bad target dims ${targetW}x$targetH")
    ds.mapPartitions { it =>
      it.flatMap { r =>
        MediaCodecs.decode(r.payload).toOption.collect {
          case img: DecodedImage =>
            val out = resizeNearest(img, targetW, targetH)
            val (s, mn, mx) = byteStats(out.pixels)
            ResizedImage(r.media_id, img.width, img.height, targetW, targetH,
              s, mn, mx, md5hex(Ppm.encode(out)))
        }
      }
    }
  }

  // ---- frame sampling --------------------------------------------------

  case class FrameSample(media_id: Long, frame_idx: Int,
      frame_sum: Long, frame_min: Int, frame_max: Int, frame_md5: String)

  /** Every `everyN`-th frame of each video, one row per sampled frame
    * (1:many flatMap), stats over the frame's REAL byte slice.
    */
  def sampleFrames(ds: Dataset[MediaRecord], everyN: Int): Dataset[FrameSample] = {
    implicit val enc = Encoders.product[FrameSample]
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    ds.mapPartitions { it =>
      it.flatMap { r =>
        MediaCodecs.decode(r.payload).toOption.toSeq.flatMap {
          case f: DecodedFrames =>
            (0 until f.nFrames by everyN).map { i =>
              val fb = Frm0.frame(f, i)
              val (s, mn, mx) = byteStats(fb)
              FrameSample(r.media_id, i, s, mn, mx, md5hex(fb))
            }
          case _ => Nil
        }
      }
    }
  }

  // ---- audio frame energies --------------------------------------------

  case class AudioFrame(media_id: Long, frame_idx: Int, n_samples: Int,
      frame_sum: Long, frame_sumsq: Long)

  /** Fixed-length analysis frames over decoded PCM — the audio
    * counterpart of [[patchImages]] (waveform → ordered frame
    * sequence, the first step of any audio feature pipeline). One row
    * per FULL `frameLen`-sample frame; energy is the exact integer
    * Σv and Σv² over the frame's 16-bit samples (sumsq of ±1000-range
    * synth samples peaks ~2.6e8 per frame — Long headroom ~3.5e10×).
    * 1:many flatMap over the decoded samples, no shuffle.
    */
  def audioFrames(ds: Dataset[MediaRecord], frameLen: Int = 256): Dataset[AudioFrame] = {
    implicit val enc = Encoders.product[AudioFrame]
    require(frameLen >= 1, s"frameLen must be >= 1, got $frameLen")
    ds.mapPartitions { it =>
      it.flatMap { r =>
        MediaCodecs.decode(r.payload).toOption.toSeq.flatMap {
          case a: DecodedAudio =>
            val nf = a.samples.length / frameLen
            (0 until nf).map { f =>
              var s = 0L; var s2 = 0L
              var k = f * frameLen
              val end = k + frameLen
              while (k < end) {
                val v = a.samples(k).toLong
                s += v; s2 += v * v
                k += 1
              }
              AudioFrame(r.media_id, f, frameLen, s, s2)
            }
          case _ => Nil
        }
      }
    }
  }

  // ---- ViT-style patch extraction --------------------------------------

  case class ImagePatch(media_id: Long, px: Int, py: Int,
      n_bytes: Int, sum_bytes: Long, min_byte: Int, max_byte: Int)

  /** Split each decoded image into a grid of `patch`×`patch` pixel
    * tiles — the vision-transformer preprocessing step (image →
    * ordered patch sequence) applied corpus-wide. One row per FULL
    * patch (edge remainders drop, like ViT center-crop conventions);
    * stats are exact integers over the patch's RGB bytes. 1:many
    * flatMap, partition-wise, no shuffle — the patch walk indexes the
    * decoded raster directly, no per-patch copies.
    */
  /** 8×8 average-hash (aHash) of a decoded image — the classic
    * perceptual fingerprint for image near-dup detection: each pixel
    * maps to grid cell ((y·8) DIV h, (x·8) DIV w), a cell's bit is 1
    * iff its byte mean exceeds the image's global byte mean, compared
    * CROSS-MULTIPLIED so the decision is exact integer arithmetic
    * (cells are unequal-sized under non-multiple-of-8 dimensions — no
    * float means, no rounding divergence). The 64 bits ship as two
    * 32-bit halves in BIGINTs (`hash_hi` bits 32-63, `hash_lo` 0-31)
    * so neither engine touches the int64 sign bit and XOR/popcount
    * stay portable.
    */
  case class ImageHash(media_id: Long, width: Int, height: Int,
      hash_hi: Long, hash_lo: Long)

  def imageAHash(ds: Dataset[MediaRecord]): Dataset[ImageHash] = {
    implicit val enc = Encoders.product[ImageHash]
    ds.mapPartitions { it =>
      it.flatMap { r =>
        MediaCodecs.decode(r.payload).toOption.toSeq.flatMap {
          case img: DecodedImage =>
            val w = img.width; val h = img.height
            val cellSum = new Array[Long](64)
            val cellBytes = new Array[Long](64)
            var y = 0
            while (y < h) {
              val cy = y * 8 / h
              var x = 0
              while (x < w) {
                val cell = cy * 8 + x * 8 / w
                val base = 3 * (y * w + x)
                cellSum(cell) += (img.pixels(base) & 0xff) +
                  (img.pixels(base + 1) & 0xff) + (img.pixels(base + 2) & 0xff)
                cellBytes(cell) += 3
                x += 1
              }
              y += 1
            }
            val total = cellSum.sum
            // cellSum·3wh ≤ 765·3·(wh)² — past ~6e7 pixels that product
            // wraps int64, so oversized rasters take the exact BigInt
            // comparison instead of silently corrupting the hash
            val fitsLong = w.toLong * h <= 60000000L
            var hi = 0L; var lo = 0L
            var c = 0
            while (c < 64) {
              // cell mean > global mean ⇔ cellSum·3wh > total·cellBytes
              val brighter =
                if (fitsLong) cellSum(c) * 3 * w * h > total * cellBytes(c)
                else BigInt(cellSum(c)) * 3 * w * h > BigInt(total) * cellBytes(c)
              if (brighter) {
                if (c < 32) lo |= 1L << c else hi |= 1L << (c - 32)
              }
              c += 1
            }
            Seq(ImageHash(r.media_id, w, h, hi, lo))
          case _ => Nil
        }
      }
    }
  }

  /** Image near-dup pairs by banded Hamming join over the aHash: the
    * 64-bit hash splits into four 16-bit bands, candidates must share
    * at least one band EXACTLY (an equi-join on (band_idx, band_value)
    * — never all-pairs), and survivors verify the true Hamming
    * distance via XOR + popcount. By pigeonhole the banding is
    * LOSSLESS for `maxHamming` < 4: fewer than 4 differing bits cannot
    * touch all 4 bands, so some band matches exactly — the same
    * guarantee-by-construction story as the prefix-filter ssjoin.
    * Band values live in a 2¹⁶-bounded domain, so a pathologically
    * uniform corpus (every image hashing alike) concentrates buckets —
    * at that point route the banded table through the same skew cap as
    * the LSH dedup family; the shape here stays the honest default.
    */
  /** Explode a hash table into its four 16-bit band keys —
    * (media_id, hash_hi, hash_lo, bi, bv), 4 rows per image. The
    * candidate-generation side of [[ahashNearDupPairs]], exposed so the
    * streaming twin can band a live side against a static base table.
    */
  def ahashBands(hashes: DataFrame): DataFrame = {
    val bandCols = Seq(
      (0, col("hash_lo").bitwiseAND(lit(0xFFFFL))),
      (1, shiftrightunsigned(col("hash_lo"), 16).bitwiseAND(lit(0xFFFFL))),
      (2, col("hash_hi").bitwiseAND(lit(0xFFFFL))),
      (3, shiftrightunsigned(col("hash_hi"), 16).bitwiseAND(lit(0xFFFFL))))
    hashes.select(col("media_id"), col("hash_hi"), col("hash_lo"),
        explode(array(bandCols.map { case (i, v) =>
          struct(lit(i).as("bi"), v.as("bv")) }: _*)).as("_b"))
      .select(col("media_id"), col("hash_hi"), col("hash_lo"),
        col("_b.bi").as("bi"), col("_b.bv").as("bv"))
  }

  /** Exact Hamming distance between two split hashes. */
  def hammingDist(hiA: Column, loA: Column, hiB: Column, loB: Column): Column =
    (bit_count(loA.bitwiseXOR(loB)) + bit_count(hiA.bitwiseXOR(hiB))).cast("long")

  def ahashNearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"4-band pigeonhole guarantees recall only for hamming < 4, got $maxHamming")
    val banded = ahashBands(hashes)
    val lhs = banded.select(col("media_id").as("id_a"),
      col("hash_hi").as("_ha"), col("hash_lo").as("_la"), col("bi"), col("bv"))
    val rhs = banded.select(col("media_id").as("id_b"),
      col("hash_hi").as("_hb"), col("hash_lo").as("_lb"), col("bi"), col("bv"))
    lhs.join(rhs, Seq("bi", "bv"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDist(col("_ha"), col("_la"), col("_hb"), col("_lb")).as("hamming"))
      .distinct() // a close pair shares several bands; hamming is a pure function of the pair
      .where(col("hamming") <= maxHamming)
  }

  def patchImages(ds: Dataset[MediaRecord], patch: Int = 8): Dataset[ImagePatch] = {
    implicit val enc = Encoders.product[ImagePatch]
    require(patch >= 1, s"patch must be >= 1, got $patch")
    ds.mapPartitions { it =>
      it.flatMap { r =>
        MediaCodecs.decode(r.payload).toOption.toSeq.flatMap {
          case img: DecodedImage =>
            val nx = img.width / patch
            val ny = img.height / patch
            for (py <- 0 until ny; px <- 0 until nx) yield {
              var sum = 0L; var mn = 255; var mx = 0
              var dy = 0
              while (dy < patch) {
                val rowStart = 3 * ((py * patch + dy) * img.width + px * patch)
                var k = 0
                while (k < 3 * patch) {
                  val v = img.pixels(rowStart + k) & 0xff
                  sum += v
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                  k += 1
                }
                dy += 1
              }
              ImagePatch(r.media_id, px, py, 3 * patch * patch, sum, mn, mx)
            }
          case _ => Nil
        }
      }
    }
  }

  // ---- real-world formats: PNG + JPEG via javax.imageio ---------------

  case class ImageIoRecord(media_id: Long, format: String,
      payload: Array[Byte])
  case class ImageIoFeatures(media_id: Long, format: String,
      width: Int, height: Int, px_sum: Long, px_min: Int, px_max: Int)

  /** The PPM synthesis raster ([[synthesizePayload]]'s formula:
    * w = 16+(id%8)·4, h = 12+(id%5)·4, byte i = (i+id)%256, RGB
    * row-major) as a BufferedImage.
    */
  private[graft] def synthRaster(id: Long): java.awt.image.BufferedImage = {
    val w = (16 + id % 8 * 4).toInt; val h = (12 + id % 5 * 4).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = (y.toLong * w + x) * 3
        val r = ((i + id) % 256).toInt
        val g = ((i + 1 + id) % 256).toInt
        val b = ((i + 2 + id) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Two REAL-FORMAT payloads per row id — the same deterministic
    * raster encoded as PNG (lossless: the decode side's pixel stats
    * stay closed-form mirrorable in SQL) and as JPEG (lossy: decoded
    * stats are the JVM codec's output, pinned by the committed golden
    * fixture `tools/jpeg_golden.csv` — DuckDB cannot decode JPEG, and
    * the codec output is a per-JVM constant, not a formula).
    * `javax.imageio` is pure-JVM (headless-safe, no native codec
    * libraries), so this is the real-world decode path the PPM/WAV/
    * FRM0 family deliberately avoided — same Spark plumbing, actual
    * compressed formats.
    */
  def synthesizeImageIoMedia(df: DataFrame, idCol: String): Dataset[ImageIoRecord] = {
    implicit val enc = Encoders.product[ImageIoRecord]
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.flatMap { id =>
        Seq("png", "jpg").map(fmt =>
          ImageIoRecord(id, fmt, encodeImageIo(id, fmt)))
      }
    }
  }

  private[graft] def encodeImageIo(id: Long, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(synthRaster(id), fmt, bos))
      throw new IllegalStateException(s"no ImageIO writer for $fmt")
    bos.toByteArray
  }

  /** (width, height, px_sum, px_min, px_max) of REAL PNG/JPEG bytes,
    * or None if ImageIO can't read them.
    */
  private[graft] def imageIoStats(
      payload: Array[Byte]): Option[(Int, Int, Long, Int, Int)] = {
    val img = try {
      Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
    } catch { case _: java.io.IOException => None }
    img.map { im =>
      val w = im.getWidth; val h = im.getHeight
      val rgb = im.getRGB(0, 0, w, h, null, 0, w)
      var sum = 0L; var mn = 255; var mx = 0
      var i = 0
      while (i < rgb.length) {
        val p = rgb(i)
        var c = 0
        while (c < 3) {
          val v = (p >> (16 - 8 * c)) & 0xff
          sum += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          c += 1
        }
        i += 1
      }
      (w, h, sum, mn, mx)
    }
  }

  /** Decode REAL PNG/JPEG bytes with `javax.imageio.ImageIO.read`
    * (magic-sniffing reader selection, the production decode path) and
    * compute exact integer stats over the decoded RGB channels.
    * Malformed/unreadable payloads DROP (the parser family's
    * drop-don't-throw discipline); channel order is normalized through
    * getRGB so the stats are raster-layout-independent.
    */
  def imageIoFeatures(ds: Dataset[ImageIoRecord]): Dataset[ImageIoFeatures] = {
    implicit val enc = Encoders.product[ImageIoFeatures]
    ds.mapPartitions { it =>
      it.flatMap { r =>
        imageIoStats(r.payload).map { case (w, h, sum, mn, mx) =>
          ImageIoFeatures(r.media_id, r.format, w, h, sum, mn, mx)
        }
      }
    }
  }
}
