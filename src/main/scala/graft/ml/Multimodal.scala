package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/**
 * Multimodal (image/audio/video) column plumbing: media travel as opaque
 * `binary` columns + typed metadata structs; decode / feature-extract /
 * resize / frame-sample run per-partition over the binary payloads.
 *
 * The IMAGE codec is REAL: PNG/BMP encode + decode through the JDK's
 * `javax.imageio` (no external libraries needed) — [[decodeImage]] sniffs
 * the magic bytes, decodes actual pixels, and [[averagePool]] is a true
 * pixel downsample in exact integer arithmetic. The AUDIO codec is REAL
 * too: RIFF/WAVE PCM encode + decode through the JDK's
 * `javax.sound.sampled` ([[pcmWav]]/[[decodePcm]]). Video payloads keep
 * the deterministic chunker fake (the JDK ships no video demuxer); swap
 * it for ffmpeg/JNI without touching the plan shape.
 */
object Multimodal {

  // keep PNG encode/decode fully in-memory (ImageIO defaults to a temp-file
  // cache per call — pure overhead for KB-sized payloads on executors)
  ImageIO.setUseCache(false)

  /** Typed metadata carried beside every media payload. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image | audio | video
    StructField("format", StringType),       // png/jpeg/wav/mp4/...
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("size_bytes", LongType)))

  val decodedSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("meta", mediaMetaSchema),
    StructField("feature", ArrayType(FloatType))))

  // ---- real image codec (JDK ImageIO) -------------------------------------

  /** Sniff the container format from magic bytes (what a real pipeline does
   *  before picking a decoder — file extensions don't survive binary
   *  columns). */
  def sniffFormat(p: Array[Byte]): String =
    if (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') "png"
    else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') "bmp"
    else if (p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') "wav"
    else "unknown"

  /** Encode 8-bit gray pixels (row-major, values 0-255) as a real PNG via
   *  the JDK codec. PNG is lossless: decode(encode(px)) == px exactly,
   *  which is what lets an external oracle verify the decode path by
   *  recomputing pixel arithmetic without ever parsing a PNG. */
  def grayPng(gray: Array[Int], w: Int, h: Int): Array[Byte] = {
    require(gray.length == w * h, s"expected ${w * h} pixels, got ${gray.length}")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0; var i = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, gray(i) & 0xff); x += 1; i += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode a real image payload via ImageIO and return the gray channel
   *  row-major (luma by integer BT.601 for color inputs; the raw sample for
   *  gray inputs). Returns None when the bytes are not a decodable image —
   *  BOTH when no reader claims them and when a reader claims the magic
   *  bytes but chokes on the body (text starting "BM", truncated PNGs):
   *  bad-record handling is the caller's policy decision, not an exception.
   */
  def decodeGray(payload: Array[Byte]): Option[(Array[Int], Int, Int)] = {
    val img = try ImageIO.read(new ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return None
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Int](w * h)
    if (img.getType == BufferedImage.TYPE_BYTE_GRAY) {
      val raster = img.getRaster
      var y = 0; var i = 0
      while (y < h) {
        var x = 0
        while (x < w) { out(i) = raster.getSample(x, y, 0); x += 1; i += 1 }
        y += 1
      }
    } else {
      var y = 0; var i = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
          out(i) = (299 * r + 587 * g + 114 * b) / 1000 // integer BT.601 luma
          x += 1; i += 1
        }
        y += 1
      }
    }
    Some((out, w, h))
  }

  /** REAL image decode: ImageIO pixels → meta (sniffed format, true decoded
   *  dimensions) + 8 horizontal-band gray sums as features (exact integers,
   *  so they are bit-stable across engines and reruns). Non-image payloads
   *  fall through to the synthetic-header fake. */
  def decodeImage(id: Long, payload: Array[Byte]): Row = {
    val fmt = sniffFormat(payload)
    if (fmt == "wav") {
      // real RIFF/WAVE: route to the JDK audio codec. Features: mean
      // absolute sample per eighth of the clip (integer floor-division
      // means stay < 2^24, so the Float features are EXACT)
      decodePcm(payload) match {
        case Some((samples, rate, _, _)) if samples.nonEmpty =>
          val n = samples.length
          val feats = Array.tabulate(8) { e =>
            val (from, until) = (e * n / 8, (e + 1) * n / 8)
            if (until == from) 0f
            else {
              var sum = 0L
              var i = from
              while (i < until) { sum += math.abs(samples(i).toLong); i += 1 }
              (sum / (until - from)).toFloat
            }
          }
          return Row(id, Row("audio", "wav", 0, 0, n.toLong * 1000L / rate,
            payload.length.toLong), feats)
        case _ => return decodeStub(id, payload)
      }
    }
    val decoded = if (fmt == "unknown") None else decodeGray(payload)
    if (decoded.isEmpty) return decodeStub(id, payload)
    val (gray, w, h) = decoded.get
    val bands = new Array[Long](8)
    var y = 0
    while (y < h) {
      val band = math.min(7, y * 8 / h)
      var x = 0
      while (x < w) { bands(band) += gray(y * w + x); x += 1 }
      y += 1
    }
    Row(id, Row("image", fmt, w, h, 0L, payload.length.toLong),
      bands.map(_.toFloat)) // band sums < 2^24 for sane dims: exact in Float
  }

  /**
   * STUB codec: deterministic fake decode for NON-image payloads (the JDK
   * ships no audio/video codecs). Header convention for the synthetic
   * fixtures: "IMG:<w>:<h>:" / "AUD:<ms>:" prefix, rest is payload.
   * Features: 8 moments of the payload bytes. Replace with a real decoder
   * (ffmpeg/JNI) for production; everything downstream only sees the schema.
   */
  def decodeStub(id: Long, payload: Array[Byte]): Row = {
    val header = new String(payload.take(32), "ISO-8859-1")
    // parse the declared header fields left-to-right and take the body
    // AFTER the header's own final delimiter — a lastIndexOf over the
    // first 32 bytes would misparse any body that itself contains ':'.
    // Malformed headers (truncated, non-numeric) degrade to opaque "raw"
    // with the full payload as body instead of throwing on a bad record.
    def field(from: Int): Option[(String, Int)] = {
      val i = header.indexOf(':', from)
      if (i < 0) None else Some((header.substring(from, i), i + 1))
    }
    val parsed: Option[(String, String, Int, Int, Long, Int)] =
      if (header.startsWith("IMG:"))
        for {
          (ws, afterW) <- field(4); wv <- ws.toIntOption
          (hs, afterH) <- field(afterW); hv <- hs.toIntOption
        } yield ("image", "fake-img", wv, hv, 0L, afterH)
      else if (header.startsWith("AUD:"))
        for {
          (ds, afterD) <- field(4); dv <- ds.toLongOption
        } yield ("audio", "fake-aud", 0, 0, dv, afterD)
      else None
    val (mediaType, fmt, w, h, dur, bodyStart) =
      parsed.getOrElse(("unknown", "raw", 0, 0, 0L, 0))
    val body = payload.drop(bodyStart)
    val feats = Array.tabulate(8) { k =>
      if (body.isEmpty) 0f
      else body.iterator.zipWithIndex
        .map { case (b, i) => ((b & 0xff) * math.cos((k + 1) * (i + 1) * 0.01)).toFloat }
        .sum / body.length
    }
    Row(id, Row(mediaType, fmt, w, h, dur, payload.length.toLong), feats)
  }

  /**
   * Decode a frame of (id: long, payload: binary) rows partition-parallel.
   * `mapPartitions` keeps one codec context per partition (where a real
   * codec would be initialized once) — the Scala analogue of the
   * mapInPandas batch shape.
   */
  def decode(df: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(decodedSchema)
    df.select(col("id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        // one codec context per partition: ImageIO reader instances are
        // created per call, but the (class-init-heavy) plugin registry is
        // touched once per executor JVM
        rows.map(r => decodeImage(r.getLong(0), r.getAs[Array[Byte]](1)))
      }(enc)
  }

  /** Deterministic text→image fixture: materialize each document as a REAL
   *  8-bit gray PNG whose pixel (i) is the ASCII code of the
   *  text character at `(i*7) mod len` — a generator an external oracle can
   *  recompute in SQL, while the Spark side goes through genuine PNG
   *  encode(+decode) via ImageIO. */
  def textToGrayPng(df: DataFrame, idCol: String, textCol: String, w: Int, h: Int)
                   (implicit spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long"), col(textCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val t = r.getString(1)
          require(t.nonEmpty, s"empty text for id ${r.getLong(0)}")
          // ASCII-only by contract: the oracle mirror indexes CHARACTERS
          // and takes full codepoints, this side indexes UTF-16 units and
          // masks to a byte — identical only below 0x80. Fail loudly here
          // rather than as a confusing downstream pixel-hash mismatch.
          require(t.forall(_ < 128), s"non-ASCII text for id ${r.getLong(0)}: " +
            "textToGrayPng's generator is only oracle-mirrorable for ASCII corpora")
          val gray = Array.tabulate(w * h)(i => t.charAt((i * 7) % t.length).toInt & 0xff)
          Row(r.getLong(0), grayPng(gray, w, h))
        }
      }(enc)
  }

  /** REAL resize: ImageIO decode → factor×factor average-pool over true
   *  pixels (floor integer mean of each block — exact arithmetic, so the
   *  result is verifiable by recomputing it from the source pixels).
   *  Output: (id, width, height of the DECODED source, pooled gray values
   *  row-major). Payloads ImageIO cannot decode fail loudly — silently
   *  passing garbage through a resize is how a 100 TB media job produces
   *  100 TB of garbage. */
  def averagePool(df: DataFrame, factor: Int)(implicit spark: SparkSession): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("width", IntegerType),
      StructField("height", IntegerType), StructField("pooled", ArrayType(IntegerType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col("id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val decoded = decodeGray(r.getAs[Array[Byte]](1))
          require(decoded.isDefined, s"payload for id $id is not a decodable image")
          val (gray, w, h) = decoded.get
          val (pw, ph) = (w / factor, h / factor)
          val pooled = Array.tabulate(pw * ph) { p =>
            val (px, py) = (p % pw, p / pw)
            var sum = 0
            var dy = 0
            while (dy < factor) {
              var dx = 0
              while (dx < factor) {
                sum += gray((py * factor + dy) * w + (px * factor + dx)); dx += 1
              }
              dy += 1
            }
            sum / (factor * factor)
          }
          Row(id, w, h, pooled)
        }
      }(enc)
  }

  /** Perceptual average-hash (aHash) of a decodable image payload: decode
   *  to gray, pool to an 8×8 grid, set bit p when its block's pixel SUM
   *  scaled by 64 exceeds the whole-image sum (integer-exact form of
   *  "block mean above global mean" — no division, so the bit pattern is
   *  reproducible by any engine from the raw pixels). Returned as a 64-char
   *  '0'/'1' string, bit 0 = top-left, row-major: a string survives any
   *  sign/overflow trap a 64-bit integer hash would hit on bit 63, and
   *  substrings of it ARE the LSH band keys. Requires width and height
   *  divisible by 8 (true for any sane thumbnail pipeline; reject loudly
   *  otherwise — a silently padded edge block biases the mean).
   *  Output: (id, phash). Narrow per-partition map, no shuffle. */
  def averageHash(df: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("phash", StringType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col("id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val decoded = decodeGray(r.getAs[Array[Byte]](1))
          require(decoded.isDefined, s"payload for id $id is not a decodable image")
          val (gray, w, h) = decoded.get
          require(w % 8 == 0 && h % 8 == 0,
            s"averageHash needs dims divisible by 8, got ${w}x$h for id $id")
          val (bw, bh) = (w / 8, h / 8)
          var total = 0L
          var i = 0
          while (i < gray.length) { total += gray(i); i += 1 }
          val bits = new Array[Char](64)
          var p = 0
          while (p < 64) {
            val (px, py) = (p % 8, p / 8)
            var sum = 0L
            var dy = 0
            while (dy < bh) {
              var dx = 0
              while (dx < bw) { sum += gray((py * bh + dy) * w + (px * bw + dx)); dx += 1 }
              dy += 1
            }
            bits(p) = if (sum * 64 > total) '1' else '0'
            p += 1
          }
          Row(id, new String(bits))
        }
      }(enc)
  }

  /**
   * Near-duplicate image pairs from a (id, phash) frame: block-combination
   * LSH over the 64-bit hash (Manku et al., WWW'07 — the simhash-dedup
   * blocking). The hash splits into `bands` equal blocks; each banding key
   * is the concatenation of a sorted `bandsPerKey`-subset of blocks, so a
   * doc emits C(bands, bandsPerKey) keys of width bandsPerKey·(64/bands)
   * bits. Ids sharing any key become candidates; candidates are graded by
   * exact Hamming distance and kept at `maxHamming` or below.
   *
   * Recall: h damaged bits damage at most h blocks, so any pair with
   * h ≤ bands − bandsPerKey has some all-intact key combination —
   * GUARANTEED candidacy (pigeonhole); beyond that it's the standard LSH
   * probabilistic trade.
   *
   * Density — the 100 TB lever, with a measured trade: chance candidates
   * per table scale as n²/2^keyBits, so wider keys — (8, 3) =
   * fifty-six 24-bit tables — cut chance collisions 256× per table and
   * RAISE the guarantee (h ≤ 5 vs h ≤ 3). But every REAL near-dup pair
   * also lands in up to C(bands, bandsPerKey) tables before the
   * distinct, multiplying band-join volume by its table multiplicity.
   * Measured at the 67k-image scale probe (dup-heavy: 464k real pairs,
   * 168k chance candidates): (4,1) 2.5 s, (8,3) 21 s with +2470
   * guarantee-recovered pairs — on a dup-heavy corpus the default wins;
   * (8, 3) is for the chance-dominated regime (mostly-distinct corpora
   * at n >> 2^16, where chance candidates dwarf real pairs). Same
   * blocking idea as text MinHash-LSH ([[Dedup.lshCandidatePairs]]):
   * the self-join runs only within key groups. Candidate pairs are
   * distinct'd ids-only BEFORE the two hash re-attach joins, so the
   * exchanges carry (long, long) rows.
   * Output: (id_a < id_b, hamming).
   */
  def phashNearDupPairs(hashes: DataFrame, bands: Int = 4,
                        maxHamming: Int = 6, bandsPerKey: Int = 1): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    require(bandsPerKey >= 1 && bandsPerKey < bands,
      s"bandsPerKey must be in [1, bands), got $bandsPerKey of $bands")
    val bw = 64 / bands
    val bandCols = (0 until bands).combinations(bandsPerKey).zipWithIndex.map {
      case (combo, ci) =>
        val key = concat(combo.map(b => substring(col("phash"), b * bw + 1, bw)): _*)
        struct(lit(ci).as("band"), key.as("bstr"))
    }.toSeq
    val banded = hashes
      .select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bstr").as("bstr"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bstr") === col("b.bstr") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // exact Hamming via two 32-bit halves: binary-string → long is
    // overflow-safe per half, and bit_count(xor) is codegen'd — no
    // per-character lambda in the hot loop
    def half(c: Column, from: Int): Column =
      conv(substring(c, from, 32), 2, 10).cast("long")
    val withBits = cand
      .join(hashes.as("ha"), col("id_a") === col("ha.id"))
      .join(hashes.as("hb"), col("id_b") === col("hb.id"))
      .select(col("id_a"), col("id_b"),
        (bit_count(half(col("ha.phash"), 1).bitwiseXOR(half(col("hb.phash"), 1))) +
          bit_count(half(col("ha.phash"), 33).bitwiseXOR(half(col("hb.phash"), 33))))
          .cast("long").as("hamming"))
    withBits.filter(col("hamming") <= maxHamming)
  }

  // ---- real audio codec (JDK javax.sound.sampled) --------------------------

  /** Encode signed 16-bit mono PCM samples as a real RIFF/WAVE file via the
   *  JDK codec (`AudioSystem.write`). WAV PCM is lossless: decode(encode(s))
   *  == s exactly, so an external oracle can verify the decode path by
   *  recomputing sample arithmetic without ever parsing RIFF chunks —
   *  the same contract [[grayPng]] gives images. */
  def pcmWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      sampleRate.toFloat, 16, 1, 2, sampleRate.toFloat, false) // little-endian
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xff).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val bos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Decode a real WAV payload via the JDK codec and return the 16-bit PCM
   *  samples of channel 0 plus (sampleRate, channels, bitsPerSample).
   *  Returns None when the bytes are not a decodable PCM WAV — same
   *  bad-record contract as [[decodeGray]]: the caller picks the policy. */
  def decodePcm(payload: Array[Byte]): Option[(Array[Int], Int, Int, Int)] = {
    val ais = try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (ais == null) return None
    val fmt = ais.getFormat
    if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
      fmt.getSampleSizeInBits != 16) return None
    val raw = ais.readAllBytes()
    val ch = fmt.getChannels
    val stride = 2 * ch // channel 0 of each frame
    val n = raw.length / stride
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val b0 = raw(i * stride) // .toInt sign-extends the HIGH byte below
      val b1 = raw(i * stride + 1)
      out(i) = if (fmt.isBigEndian) (b0.toInt << 8) | (b1 & 0xff)
               else (b1.toInt << 8) | (b0 & 0xff)
      i += 1
    }
    Some((out, fmt.getSampleRate.toInt, ch, fmt.getSampleSizeInBits))
  }

  /** Deterministic text→audio fixture: each document as a REAL 16-bit mono
   *  PCM WAV whose sample (i) is `(charcode(text[(i*3) mod len]) - 96) *
   *  256` — the audio analogue of [[textToGrayPng]]'s generator, SQL-
   *  recomputable by an external oracle while the Spark side round-trips
   *  genuine RIFF/WAVE bytes through the JDK codec. */
  def textToWav(df: DataFrame, idCol: String, textCol: String,
                sampleRate: Int, nSamples: Int)
               (implicit spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast("long"), col(textCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val t = r.getString(1)
          require(t.nonEmpty, s"empty text for id ${r.getLong(0)}")
          require(t.forall(_ < 128), s"non-ASCII text for id ${r.getLong(0)}: " +
            "textToWav's generator is only oracle-mirrorable for ASCII corpora")
          val samples = Array.tabulate(nSamples)(i =>
            ((t.charAt((i * 3) % t.length).toInt - 96) * 256).toShort)
          Row(r.getLong(0), pcmWav(samples, sampleRate))
        }
      }(enc)
  }

  /** REAL audio decode: WAV payloads → (id, sample_rate, channels, bits,
   *  samples as exact longs). Downstream feature math (frame energies,
   *  peak detection) stays in the SQL layer over the samples array, where
   *  integer sums are engine-exact. Non-WAV payloads fail loudly — same
   *  policy as [[averagePool]]. */
  def decodeAudio(df: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType), StructField("bits", IntegerType),
      StructField("samples", ArrayType(LongType))))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col("id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val decoded = decodePcm(r.getAs[Array[Byte]](1))
          require(decoded.isDefined, s"payload for id $id is not a decodable PCM WAV")
          val (samples, rate, ch, bits) = decoded.get
          Row(id, rate, ch, bits, samples.map(_.toLong))
        }
      }(enc)
  }

  /** Frame sampling for video payloads: every nth chunk of `frameBytes` as
   *  its own row — the partition-parallel explode shape a real video
   *  pipeline uses (fixed-size chunking stands in for codec GOP boundaries:
   *  the JDK ships no video demuxer; swap the chunker for ffmpeg/JNI). */
  def sampleFrames(df: DataFrame, frameBytes: Int, everyNth: Int)(implicit spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("frame_no", IntegerType),
      StructField("frame", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col("id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val payload = r.getAs[Array[Byte]](1)
          payload.grouped(frameBytes).zipWithIndex.collect {
            case (chunk, i) if i % everyNth == 0 => Row(r.getLong(0), i, chunk)
          }
        }
      }(enc)
  }

  /**
   * Inter-frame motion energy for frame-shaped payloads: with the payload
   * cut into full `frameBytes` frames, emit for every frame f ≥ 1 the sum
   * of absolute byte differences against frame f-1 — the integer "motion"
   * signal keyframe selection ranks on (a real pipeline computes the same
   * statistic on decoded luma planes; fixed-size chunks stand in for GOPs
   * exactly as in [[sampleFrames]]). Exact integer arithmetic, so any
   * engine can reproduce the energies from the payload generator. Narrow
   * per-partition map, no shuffle; payloads with < 2 full frames emit
   * nothing. Output: (id, frame_no ≥ 1, energy).
   */
  def frameMotion(df: DataFrame, frameBytes: Int)(implicit spark: SparkSession): DataFrame = {
    require(frameBytes >= 1, s"frameBytes must be >= 1, got $frameBytes")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("frame_no", IntegerType),
      StructField("energy", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col("id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val p = r.getAs[Array[Byte]](1)
          val nf = p.length / frameBytes
          (1 until nf).iterator.map { f =>
            var e = 0L
            var j = 0
            while (j < frameBytes) {
              e += math.abs((p(f * frameBytes + j) & 0xff) -
                (p((f - 1) * frameBytes + j) & 0xff))
              j += 1
            }
            Row(r.getLong(0), f, e)
          }
        }
      }(enc)
  }

  /** Format-agnostic 1-in-N byte decimation over opaque payloads (bandwidth
   *  shaping when the format is unknown). For true pixel resize use
   *  [[averagePool]] — this one never decodes. */
  def decimateBytes(df: DataFrame, factor: Int)(implicit spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col("id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val p = r.getAs[Array[Byte]](1)
          Row(r.getLong(0), p.zipWithIndex.collect { case (b, i) if i % factor == 0 => b })
        }
      }(enc)
  }
}
