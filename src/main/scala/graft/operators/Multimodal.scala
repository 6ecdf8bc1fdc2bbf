package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: treat image/audio/video payloads as
  * opaque `binary` columns with typed metadata, and run decode /
  * feature-extraction as batched partition-local functions.
  *
  * The decode step is a REAL (if deliberately small) codec: a 24-bit
  * uncompressed BMP parser — file + info header validation, bottom-up
  * and top-down row order, 4-byte row padding — plus the matching
  * writer used to synthesize deterministic fixtures from the corpus
  * itself. Real bytes flow through the whole path: synthesize → BMP
  * encode → shuffle → batched decode → pixel statistics, and the SQL
  * oracle recomputes the statistics from the source text alone, so a
  * hash mismatch pins a codec bug (padding, row order, channel order),
  * not fixture drift. Heavier codecs (JPEG, audio) drop into the same
  * batched `mapPartitions` shape.
  */
object Multimodal {

  /** Wrap a text/bytes column as an opaque binary payload with typed
    * metadata: byte length, content hash, 256-byte chunk count.
    */
  def binarize(df: DataFrame, idCol: String, srcCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      encode(col(srcCol), "UTF-8").as("payload"))
      .withColumn("n_bytes", length(col("payload")))
      .withColumn("content_hash", sha2(col("payload"), 256))
      .withColumn("n_chunks",
        ceil(col("n_bytes").cast("double") / lit(256.0)).cast("int"))

  // -----------------------------------------------------------------
  // BMP codec (public format: BITMAPFILEHEADER + BITMAPINFOHEADER,
  // 24bpp uncompressed). Pure JVM, no dependencies.
  // -----------------------------------------------------------------

  private val HeaderBytes = 54 // 14 (file header) + 40 (info header)

  /** Encode top-down row-major BGR pixel bytes as a 24-bit
    * uncompressed BMP. Bottom-up row order by default (the on-disk
    * convention; biHeight positive), top-down (negative biHeight) on
    * request; each row padded to a 4-byte boundary per the spec.
    */
  def encodeBmp(bgr: Array[Byte], width: Int, height: Int,
      topDown: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && bgr.length == width * height * 3,
      s"bad dimensions: $width x $height for ${bgr.length} bytes")
    val stride = (width * 3 + 3) / 4 * 4
    val size = HeaderBytes + stride * height
    val out = new Array[Byte](size)
    val bb = java.nio.ByteBuffer.wrap(out)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(size)
      .putShort(0).putShort(0).putInt(HeaderBytes)
    bb.putInt(40).putInt(width)
      .putInt(if (topDown) -height else height)
      .putShort(1).putShort(24).putInt(0).putInt(stride * height)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    var fileRow = 0
    while (fileRow < height) {
      val imgRow = if (topDown) fileRow else height - 1 - fileRow
      System.arraycopy(bgr, imgRow * width * 3,
        out, HeaderBytes + fileRow * stride, width * 3)
      fileRow += 1
    }
    out
  }

  /** Decode a 24-bit uncompressed BMP: validates the BM magic, header
    * sizes, planes/bpp/compression fields, honors bfOffBits (extra
    * header space is legal), and normalizes both row orders to
    * top-down. Returns (width, height, row-major BGR bytes).
    */
  def decodeBmp(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(bytes.length >= HeaderBytes &&
      bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
      "not a BMP payload")
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val offBits = bb.getInt(10)
    val biSize = bb.getInt(14)
    val width = bb.getInt(18)
    val rawHeight = bb.getInt(22)
    val planes = bb.getShort(26)
    val bitCount = bb.getShort(28)
    val compression = bb.getInt(30)
    require(biSize >= 40, s"unsupported info header size $biSize")
    require(planes == 1 && bitCount == 24 && compression == 0,
      s"unsupported BMP variant: planes=$planes bpp=$bitCount " +
        s"compression=$compression")
    require(width > 0 && rawHeight != 0, s"bad dims $width x $rawHeight")
    val topDown = rawHeight < 0
    val height = math.abs(rawHeight)
    val stride = (width * 3 + 3) / 4 * 4
    require(offBits >= HeaderBytes &&
      bytes.length >= offBits + stride.toLong * height,
      "truncated pixel array")
    val out = new Array[Byte](width * height * 3)
    var imgRow = 0
    while (imgRow < height) {
      val fileRow = if (topDown) imgRow else height - 1 - imgRow
      System.arraycopy(bytes, offBits + fileRow * stride,
        out, imgRow * width * 3, width * 3)
      imgRow += 1
    }
    (width, height, out)
  }

  /** Container-sniffing decode: BMP by its `BM` magic, PNG by its
    * 8-byte signature ([[PngCodec]] — zlib inflate, all five
    * scanline filters, color types 0/2/3/4/6). Both normalize to the
    * same (width, height, row-major top-down BGR) contract, so every
    * downstream consumer — pixel stats, dHash, resize, features —
    * works on either container without knowing which it got. This is
    * the realistic web-corpus shape: a payload column mixing formats,
    * dispatched per row inside the batched partition-local decode.
    */
  def decodeImage(bytes: Array[Byte]): (Int, Int, Array[Byte]) =
    if (PngCodec.isPng(bytes)) PngCodec.decodePng(bytes)
    else decodeBmp(bytes)

  /** The deterministic pixel rule both fixture synthesizers share:
    * byte k of the UTF-8 text is pixel k's blue channel, green =
    * (3·b+1) mod 256, red = k mod 256, and pad pixels completing the
    * last row use b = (k·7) mod 256 — arithmetic simple enough that a
    * SQL oracle recomputes the decoded statistics from the text
    * alone, INDEPENDENT of the container the pixels ship in.
    */
  private def fixturePixels(text: String,
      width: Int): (Array[Byte], Int) = {
    val tb = text.getBytes("UTF-8")
    val h = (tb.length + width - 1) / width
    val npx = width * h
    val bgr = new Array[Byte](npx * 3)
    var k = 0
    while (k < npx) {
      val b = if (k < tb.length) tb(k) & 0xff else (k * 7) % 256
      bgr(3 * k) = b.toByte
      bgr(3 * k + 1) = ((3 * b + 1) % 256).toByte
      bgr(3 * k + 2) = (k % 256).toByte
      k += 1
    }
    (bgr, h)
  }

  /** Deterministic BMP fixture synthesis from a text column — see
    * [[fixturePixels]] for the oracle-recomputable pixel rule. Empty
    * texts are dropped (a 0-row bitmap is not representable).
    */
  def synthesizeBmp(df: DataFrame, idCol: String, textCol: String,
      width: Int = 8): DataFrame = {
    require(width > 0)
    val spark = df.sparkSession
    import spark.implicits._
    df.where(length(col(textCol)) > 0)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val (bgr, h) = fixturePixels(text, width)
          (id, encodeBmp(bgr, width, h))
        }
      }
      .toDF("doc_id", "payload")
      .withColumn("n_bytes", length(col("payload")))
      .withColumn("content_hash", sha2(col("payload"), 256))
  }

  /** PNG twin of [[synthesizeBmp]]: the SAME pixels (so every oracle
    * that recomputes decoded statistics from the text keeps matching
    * verbatim), shipped through the adaptively-filtered zlib PNG
    * container instead — the decode path then runs real inflate +
    * defilter work per image.
    */
  def synthesizePng(df: DataFrame, idCol: String, textCol: String,
      width: Int = 8): DataFrame = {
    require(width > 0)
    val spark = df.sparkSession
    import spark.implicits._
    df.where(length(col(textCol)) > 0)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val (bgr, h) = fixturePixels(text, width)
          (id, PngCodec.encodePng(bgr, width, h))
        }
      }
      .toDF("doc_id", "payload")
      .withColumn("n_bytes", length(col("payload")))
      .withColumn("content_hash", sha2(col("payload"), 256))
  }

  /** Nearest-neighbor image resize — the pre-embedding normalization
    * step every vision pipeline runs before the model: output pixel
    * (x, y) samples source pixel (⌊x·W/w⌋, ⌊y·H/h⌋). Decodes either
    * container ([[decodeImage]]), samples, re-encodes in the SAME
    * container it received — so the result stays a valid payload any
    * downstream codec step accepts. Handles both down- and
    * up-scaling (the index formula is direction-agnostic).
    */
  def resizeBmp(bytes: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
    require(outW > 0 && outH > 0)
    val isPng = PngCodec.isPng(bytes)
    val (w, h, px) = decodeImage(bytes)
    val out = new Array[Byte](outW * outH * 3)
    var y = 0
    while (y < outH) {
      val sy = (y.toLong * h / outH).toInt
      var x = 0
      while (x < outW) {
        val sx = (x.toLong * w / outW).toInt
        val si = (sy * w + sx) * 3
        val di = (y * outW + x) * 3
        out(di) = px(si); out(di + 1) = px(si + 1)
        out(di + 2) = px(si + 2)
        x += 1
      }
      y += 1
    }
    if (isPng) PngCodec.encodePng(out, outW, outH)
    else encodeBmp(out, outW, outH)
  }

  /** Batched partition-local resize of a payload table: same
    * (doc_id, payload, content_hash) shape in and out, so codec
    * steps COMPOSE — synthesize → resize → [[decodeImageStats]] runs
    * the parser twice through one pipeline.
    */
  def resizeTable(df: DataFrame, outW: Int, outH: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) => (id, resizeBmp(bytes, outW, outH)) }
      }
      .toDF("doc_id", "payload")
      .withColumn("content_hash", sha2(col("payload"), 256))
  }

  /** Frame sampling: split the payload into fixed-size frames and keep
    * every `stride`-th one — the video/audio pre-processing shape
    * (sample frames before the expensive decode). Pure byte plumbing,
    * no codec needed, so it is fully real AND oracle-checkable:
    * output is (doc_id, frame_idx, frame_bytes, frame_hash) for
    * frames 0, stride, 2·stride, … A generator expression (posexplode
    * over substrings) keeps it codegen'd and row-bounded — no driver
    * involvement, no UDF.
    */
  def sampleFrames(df: DataFrame, frameBytes: Int,
      stride: Int): DataFrame = {
    require(frameBytes > 0 && stride > 0)
    df.select(col("doc_id"), col("payload"), col("n_bytes"))
      .where(col("n_bytes") > 0) // sequence(0,-1) would count DOWN
      .selectExpr("doc_id",
        s"posexplode(transform(" +
          s"sequence(0, CAST(ceil(n_bytes / CAST($frameBytes AS DOUBLE)) " +
          s"AS INT) - 1), " +
          s"i -> substring(payload, i * $frameBytes + 1, $frameBytes))) " +
          "AS (frame_idx, frame_bytes)")
      .where(pmod(col("frame_idx"), lit(stride)) === 0)
      .withColumn("frame_hash", sha2(col("frame_bytes"), 256))
  }

  /** Batched partition-local decode to pixel statistics: repartition
    * by content hash for batch locality (identical payloads co-locate
    * so a real decoder could cache), then run the BMP parser inside
    * each partition and aggregate per-image sums in one pass over the
    * pixel array. Output per image: dimensions, pixel count, exact
    * per-channel means (rounded at 6), and position-WEIGHTED channel
    * sums Σ(k+1)·channel_k — the weighted sums are order-sensitive,
    * so a decoder that flips row order or mixes up padding cannot
    * slip past a mean that happens to be order-invariant.
    */
  def decodeImageStats(df: DataFrame, numBuckets: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.repartition(numBuckets, col("content_hash"))
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, px) = decodeImage(bytes)
          val npx = w * h
          var sb, sg, sr, wb, wg, wr = 0L
          var k = 0
          while (k < npx) {
            val b = px(3 * k) & 0xff
            val g = px(3 * k + 1) & 0xff
            val r = px(3 * k + 2) & 0xff
            sb += b; sg += g; sr += r
            wb += (k + 1).toLong * b
            wg += (k + 1).toLong * g
            wr += (k + 1).toLong * r
            k += 1
          }
          (id, w, h, npx, sb, sg, sr, wb, wg, wr)
        }
      }
      .toDF("doc_id", "img_w", "img_h", "n_px", "sum_b", "sum_g",
        "sum_r", "wsum_b", "wsum_g", "wsum_r")
      .select(col("doc_id"), col("img_w"), col("img_h"), col("n_px"),
        round(col("sum_b").cast("double") / col("n_px"), 6).as("mean_b"),
        round(col("sum_g").cast("double") / col("n_px"), 6).as("mean_g"),
        round(col("sum_r").cast("double") / col("n_px"), 6).as("mean_r"),
        col("wsum_b"), col("wsum_g"), col("wsum_r"))
  }

  /** 64-bit difference hash (dHash) of a BMP payload — the standard
    * perceptual fingerprint for IMAGE near-dup detection: resize to
    * 9×8 through the nearest-neighbor codec path, take integer
    * luminance `b+g+r` per cell, and set bit (y·8+x) when the cell to
    * the right is brighter. Crops/re-encodes/brightness shifts move
    * few bits, so near-duplicate images land within a small hamming
    * distance — the image-side analogue of SimHash over text.
    */
  def dhash64(bytes: Array[Byte]): Long = {
    val (w9, h8, px) = decodeImage(resizeBmp(bytes, 9, 8))
    require(w9 == 9 && h8 == 8, s"resize contract violated: $w9 x $h8")
    def lum(x: Int, y: Int): Int = {
      val i = 3 * (y * 9 + x)
      (px(i) & 0xff) + (px(i + 1) & 0xff) + (px(i + 2) & 0xff)
    }
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (lum(x + 1, y) > lum(x, y)) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Batched partition-local dHash of a payload table (same
    * hash-bucketed shape as [[decodeImageStats]]): (doc_id, dhash).
    */
  def imageDhashes(df: DataFrame, numBuckets: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.repartition(numBuckets, col("content_hash"))
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        (id, dhash64(bytes))
      })
      .toDF("doc_id", "dhash")
  }

  /** Canonical 44-byte RIFF/WAVE header + 16-bit little-endian mono
    * PCM — the real format, so any external reader accepts the
    * payload.
    */
  def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)                  // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16)                 // block align, bits
    buf.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { buf.putShort(samples(i)); i += 1 }
    buf.array
  }

  /** Header-validating WAV parse (strict: PCM, mono, 16-bit — the
    * contract [[encodeWav]] writes). Returns (sampleRate, samples).
    */
  def decodeWav(bytes: Array[Byte]): (Int, Array[Short]) = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
    }
    require(tag() == "RIFF", "missing RIFF marker")
    val riffLen = buf.getInt
    require(riffLen == bytes.length - 8, s"bad RIFF length $riffLen")
    require(tag() == "WAVE", "missing WAVE marker")
    require(tag() == "fmt ", "missing fmt chunk")
    require(buf.getInt == 16, "non-canonical fmt length")
    require(buf.getShort == 1, "not PCM")
    require(buf.getShort == 1, "not mono")
    val rate = buf.getInt
    buf.getInt                                   // byte rate
    require(buf.getShort == 2, "bad block align")
    require(buf.getShort == 16, "not 16-bit")
    require(tag() == "data", "missing data chunk")
    val dataLen = buf.getInt
    require(dataLen == bytes.length - 44, s"bad data length $dataLen")
    val out = new Array[Short](dataLen / 2)
    var i = 0
    while (i < out.length) { out(i) = buf.getShort; i += 1 }
    (rate, out)
  }

  /** Deterministic WAV fixture synthesis from a text column: char k
    * (1-based) of an ASCII text becomes sample
    * ((code·131 + k·7) mod 65536) − 32768 — integer arithmetic a SQL
    * oracle recomputes from the text alone. Empty texts are dropped.
    */
  def synthesizeWav(df: DataFrame, idCol: String, textCol: String,
      sampleRate: Int = 16000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.where(length(col(textCol)) > 0)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val samples = new Array[Short](text.length)
          var k = 0
          while (k < text.length) {
            val code = text.charAt(k).toInt
            samples(k) =
              (((code * 131 + (k + 1) * 7) % 65536) - 32768).toShort
            k += 1
          }
          (id, encodeWav(samples, sampleRate))
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Batched partition-local WAV decode → per-clip audio statistics:
    * duration, exact sum / position-weighted sum of samples
    * (order-sensitive — a codec or staging bug that permutes or pads
    * samples goes red), and the zero-crossing count (the classic
    * cheap audio feature). Same hash-bucketed batched mapPartitions
    * shape as the image path.
    */
  def decodeAudioStats(df: DataFrame, numBuckets: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.repartition(numBuckets, col("doc_id"))
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (rate, s) = decodeWav(bytes)
          var sum = 0L
          var wsum = 0L
          var zc = 0L
          var k = 0
          while (k < s.length) {
            sum += s(k)
            wsum += (k + 1).toLong * s(k)
            if (k > 0 && ((s(k) < 0) != (s(k - 1) < 0))) zc += 1
            k += 1
          }
          (id, rate, s.length.toLong, sum, wsum, zc)
        }
      }
      .toDF("doc_id", "sample_rate", "n_samples", "sum_s", "wsum_s",
        "n_zero_cross")
  }

  /** 64-bit audio difference fingerprint — the audio twin of
    * [[dhash64]]: the clip is cut into 65 equal sample-index frames
    * (frame f covers [⌊f·n/65⌋, ⌊(f+1)·n/65⌋), empty when the clip is
    * shorter than 65 samples), each frame's energy is the exact
    * integer Σ|sample|, and bit f is set when frame f+1 carries more
    * energy than frame f. Tempo-preserving edits (padding, gain
    * within a frame, small splices) move few bits, so near-duplicate
    * clips land within a small hamming distance — feed
    * [[Dedup.hammingPairs64]] for blocked pair mining.
    */
  def audioFingerprint64(samples: Array[Short]): Long = {
    val n = samples.length
    val e = new Array[Long](65)
    var f = 0
    while (f < 65) {
      var i = f * n / 65
      val end = (f + 1) * n / 65
      var s = 0L
      while (i < end) { s += math.abs(samples(i).toLong); i += 1 }
      e(f) = s
      f += 1
    }
    var hash = 0L
    f = 0
    while (f < 64) {
      if (e(f + 1) > e(f)) hash |= 1L << f
      f += 1
    }
    hash
  }

  /** Batched partition-local audio fingerprints of a WAV payload
    * table: (doc_id, afp).
    */
  def audioFingerprints(df: DataFrame, numBuckets: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.repartition(numBuckets, col("doc_id"))
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) =>
        (id, audioFingerprint64(decodeWav(bytes)._2))
      })
      .toDF("doc_id", "afp")
  }
}
