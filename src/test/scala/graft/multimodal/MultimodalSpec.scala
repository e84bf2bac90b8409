package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions

class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  test("fake image container roundtrips through the stub decoder") {
    val blob = MediaCodec.encodeFakeImage(16, 9, 3, seed = 7)
    val px = MediaCodec.decodeImage(blob)
    assert(px.width == 16 && px.height == 9 && px.channels == 3)
    assert(px.data.length == 16 * 9 * 3)
    // deterministic: same seed, same pixels
    val px2 = MediaCodec.decodeImage(MediaCodec.encodeFakeImage(16, 9, 3, seed = 7))
    assert(px.data.toSeq == px2.data.toSeq)
  }

  test("nearest-neighbor resize is exact on a known pattern") {
    // 2x2 single-channel image; upscale 2x — each source pixel becomes a 2x2 block
    val src = MediaCodec.Pixels(2, 2, 1, Array[Byte](10, 20, 30, 40))
    val up = MediaCodec.resizeNearest(src, 4, 4)
    assert(up.data.toSeq == Seq[Byte](10, 10, 20, 20, 10, 10, 20, 20,
      30, 30, 40, 40, 30, 30, 40, 40))
    // downscale back recovers the original
    val down = MediaCodec.resizeNearest(up, 2, 2)
    assert(down.data.toSeq == src.data.toSeq)
  }

  test("grid mean-pool embedding: uniform image pools to its value") {
    val flat = MediaCodec.Pixels(8, 8, 1, Array.fill[Byte](64)(100))
    val emb = MediaCodec.gridMeanPool(flat, 2)
    assert(emb.length == 4)
    assert(emb.forall(v => math.abs(v - 100f) < 1e-4))
  }

  test("imageFeatures: distributed decode + embed with batched mapPartitions") {
    val blobs = (0 until 40).map(i =>
      (i.toLong, MediaCodec.encodeFakeImage(32, 24, 3, seed = i), "image/x-graft"))
    val df = blobs.toDF("media_id", "bytes", "mime")
    val out = Multimodal.imageFeatures(df, batchSize = 7).collect()
    assert(out.length == 40)
    assert(out.forall(r => r.width == 32 && r.height == 24 && r.channels == 3))
    assert(out.forall(_.embedding.length == 4 * 4 * 3))
    // determinism across runs
    val again = Multimodal.imageFeatures(df, batchSize = 7).collect()
    assert(out.sortBy(_.media_id).zip(again.sortBy(_.media_id))
      .forall { case (a, b) => a.embedding.toSeq == b.embedding.toSeq })
  }

  test("resized pipeline yields fixed-size embeddings regardless of input dims") {
    val df = Seq(
      (1L, MediaCodec.encodeFakeImage(64, 48, 3, 1), "i"),
      (2L, MediaCodec.encodeFakeImage(10, 10, 3, 2), "i")).toDF("media_id", "bytes", "mime")
    val out = Multimodal.imageFeaturesResized(df, 16, 16).collect()
    assert(out.forall(r => r.width == 16 && r.height == 16))
  }

  test("audio RMS energy features from the stub decoder") {
    val df = Seq((1L, MediaCodec.encodeFakeAudio(16000, 16000, seed = 3), "a"))
      .toDF("media_id", "bytes", "mime")
    val out = Multimodal.audioFeatures(df, windows = 8).collect()
    assert(out.length == 1)
    assert(out.head.sample_rate == 16000 && out.head.n_samples == 16000)
    assert(out.head.energy.length == 8)
    assert(out.head.energy.forall(_ > 0f)) // noise has energy
  }

  test("video frame sampling: 1 row to N frames at the requested rate") {
    val frames = (0 until 30).map(i => MediaCodec.encodeFakeImage(8, 8, 1, seed = i))
    val video = MediaCodec.encodeFakeVideo(fps = 10, frames) // 3 seconds
    val df = Seq((5L, video, "video/x-graft")).toDF("media_id", "bytes", "mime")
    // every 500ms at 10fps => every 5th frame => 6 frames
    val out = Multimodal.sampleFrames(df, everyMs = 500).collect().sortBy(_.frame_idx)
    assert(out.length == 6)
    assert(out.map(_.frame_idx).toSeq == Seq(0, 5, 10, 15, 20, 25))
    assert(out.head.ts_ms == 0 && out(1).ts_ms == 500)
    assert(out.forall(_.embedding.nonEmpty))
  }

  test("media embeddings feed the similarity-search operators end to end") {
    // near-identical images should be cosine-nearest
    val a = MediaCodec.encodeFakeImage(32, 32, 1, seed = 42)
    val aCopy = MediaCodec.encodeFakeImage(32, 32, 1, seed = 42)
    val other = MediaCodec.encodeFakeImage(32, 32, 1, seed = 999)
    val df = Seq((1L, a, "i"), (2L, aCopy, "i"), (3L, other, "i"))
      .toDF("media_id", "bytes", "mime")
    val emb = Multimodal.imageFeatures(df).toDF()
      .select(col("media_id").as("vec_id"), col("embedding"))
    val top = VectorFunctions.bruteForceTopK(
      emb.filter(col("vec_id") === 1), emb, "vec_id", "embedding", k = 1).collect()
    assert(top.head.getAs[Long]("neighbor_id") == 2L)
  }

  test("repartitionBySize packs partitions by blob bytes, not row count") {
    val df = (0 until 64).map(i =>
      (i.toLong, MediaCodec.encodeFakeImage(32, 32, 3, i), "i")).toDF("media_id", "bytes", "mime")
    val total = 64L * (13 + 32 * 32 * 3)
    val packed = Multimodal.repartitionBySize(df, "bytes", targetBytes = total / 8)
    assert(packed.rdd.getNumPartitions == 8)
    assert(packed.count() == 64)
  }

  test("corrupt blobs fail loudly at the stub boundary (poison-queue food)") {
    intercept[Exception] {
      val df = Seq((1L, "not-an-image".getBytes, "i")).toDF("media_id", "bytes", "mime")
      Multimodal.imageFeatures(df).collect()
    }
  }

  test("decode-bomb headers throw BEFORE allocating (OOM escapes the poison middleware)") {
    // a tiny blob claiming enormous dimensions must fail the header
    // check, never reach the pixel allocation: OutOfMemoryError is not
    // NonFatal, so it would bypass poison routing and kill the
    // executor on every redelivery — the WAV chunk-walk rule applied
    // to every uncompressed decoder
    import java.nio.ByteBuffer
    def gimg(w: Int, h: Int, c: Int) =
      ByteBuffer.allocate(13).put("GIMG".getBytes("US-ASCII"))
        .putInt(w).putInt(h).put(c.toByte).array()
    // 2^30 x 2^30 x 3 from a 13-byte blob
    val e1 = intercept[IllegalArgumentException] {
      MediaCodec.decodeImage(gimg(1 << 30, 1 << 30, 3)); ()
    }
    assert(e1.getMessage.contains("GIMG"), e1.getMessage)
    // Int-overflow shape: w*h*c wraps to a small positive number
    intercept[IllegalArgumentException] {
      MediaCodec.decodeImage(gimg(65536, 65536, 1)); () // 2^32 wraps to 0
    }
    // PPM claiming gigapixels in an 11-byte header + no data
    val e2 = intercept[IllegalArgumentException] {
      MediaCodec.decodeImage("P6\n46341 46341\n255\n".getBytes("US-ASCII")); ()
    }
    assert(e2.getMessage.contains("PPM"), e2.getMessage)
    // BMP with huge declared dims and a 54-byte header
    val bmp = ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bmp.put('B'.toByte).put('M'.toByte)
    bmp.putInt(10, 54) // data offset
    bmp.putInt(18, 1 << 28); bmp.putInt(22, 1 << 28) // w, h
    bmp.putShort(28, 24.toShort); bmp.putInt(30, 0)
    val e3 = intercept[IllegalArgumentException] {
      MediaCodec.decodeImage(bmp.array()); ()
    }
    assert(e3.getMessage.contains("BMP"), e3.getMessage)
    // GAUD claiming a billion samples in 12 bytes
    val gaud = ByteBuffer.allocate(12).put("GAUD".getBytes("US-ASCII"))
      .putInt(44100).putInt(Int.MaxValue).array()
    val e4 = intercept[IllegalArgumentException] {
      MediaCodec.decodeAudio(gaud); ()
    }
    assert(e4.getMessage.contains("GAUD"), e4.getMessage)
    // GVID claiming a billion frames in 12 bytes
    val gvid = ByteBuffer.allocate(12).put("GVID".getBytes("US-ASCII"))
      .putInt(30).putInt(Int.MaxValue).array()
    val e5 = intercept[IllegalArgumentException] {
      MediaCodec.videoFrameOffsets(gvid); ()
    }
    assert(e5.getMessage.contains("GVID"), e5.getMessage)
  }

  test("decode-bomb guards survive LONG-space overflow (wrapped product must not pass)") {
    // The r15 guards compared a Long product against the blob length —
    // but the PRODUCT ITSELF can exceed 2^63 for Int-range dimensions
    // and wrap negative, sailing through the ≤ check into an Int-space
    // allocation of up to ~2 GB from a tiny blob (the exact
    // OOM-escapes-poison class the guards exist to block). Each shape
    // below wrapped past 2^63 under the r15 multiply-then-compare form.
    import java.nio.ByteBuffer
    def gimg(w: Int, h: Int, c: Int) =
      ByteBuffer.allocate(13).put("GIMG".getBytes("US-ASCII"))
        .putInt(w).putInt(h).put(c.toByte).array()
    // GIMG: (2^31-1)^2 * 3 ≈ 1.38e19 wraps negative in Long
    val e1 = intercept[IllegalArgumentException] {
      MediaCodec.decodeImage(gimg(Int.MaxValue, Int.MaxValue, 3)); ()
    }
    assert(e1.getMessage.contains("GIMG"), e1.getMessage)
    // PPM: same product shape via the ASCII header
    val e2 = intercept[IllegalArgumentException] {
      MediaCodec.decodeImage(
        s"P6\n${Int.MaxValue} ${Int.MaxValue}\n255\n".getBytes("US-ASCII")); ()
    }
    assert(e2.getMessage.contains("PPM"), e2.getMessage)
    // BMP (the advisory shape): w = Int.MaxValue → rowBytesL ≈ 6.4e9;
    // h = 1.5e9 → rowBytesL*h ≈ 9.7e18 > Long.MaxValue, wraps negative
    val bmp = ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bmp.put('B'.toByte).put('M'.toByte)
    bmp.putInt(10, 54)
    bmp.putInt(18, Int.MaxValue); bmp.putInt(22, 1500000000)
    bmp.putShort(28, 24.toShort); bmp.putInt(30, 0)
    val e3 = intercept[IllegalArgumentException] {
      MediaCodec.decodeImage(bmp.array()); ()
    }
    assert(e3.getMessage.contains("BMP"), e3.getMessage)
    // PNG: IHDR claiming Int.MaxValue² RGB — (w*3+1)*h ≈ 1.38e19 wraps
    val png = ByteBuffer.allocate(8 + 25 + 12)
    png.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    png.putInt(13).put("IHDR".getBytes("US-ASCII"))
      .putInt(Int.MaxValue).putInt(Int.MaxValue)
      .put(8.toByte).put(2.toByte) // bit depth 8, color type 2 (RGB)
      .put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
      .putInt(0) // CRC (not verified by the decoder)
    png.putInt(0).put("IEND".getBytes("US-ASCII")).putInt(0)
    val e4 = intercept[IllegalArgumentException] {
      MediaCodec.decodeImage(png.array()); ()
    }
    assert(e4.getMessage.contains("PNG"), e4.getMessage)
  }

  test("REAL decode: binary PPM with comments parses to exact pixels") {
    // 2x2 RGB: red, green / blue, white — with a header comment
    val header = "P6\n# test image\n2 2\n255\n".getBytes("US-ASCII")
    val px = Array[Int](255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte)
    val p = MediaCodec.decodeImage(header ++ px)
    assert(p.width == 2 && p.height == 2 && p.channels == 3)
    assert(p.data.toSeq == px.toSeq)
  }

  test("REAL decode: 24-bit BMP handles bottom-up rows, padding, and BGR order") {
    // 2x2, rows padded to 4 bytes (2*3=6 -> 8). Logical top row:
    // red green; bottom row: blue white. BMP stores bottom row FIRST,
    // channels as BGR.
    val rowBottom = Array[Int](255, 0, 0, /*blue BGR*/ 255, 255, 255, /*white*/ 0, 0)
    val rowTop = Array[Int](0, 0, 255, /*red BGR*/ 0, 255, 0, /*green BGR*/ 0, 0)
    val pxData = (rowBottom ++ rowTop).map(_.toByte)
    val dataOffset = 54
    val fileSize = dataOffset + pxData.length
    val buf = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(fileSize).putInt(0).putInt(dataOffset)
    buf.putInt(40).putInt(2).putInt(2) // header size, width, height (bottom-up)
      .putShort(1).putShort(24).putInt(0).putInt(pxData.length)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    buf.put(pxData)
    val p = MediaCodec.decodeImage(buf.array())
    assert(p.width == 2 && p.height == 2 && p.channels == 3)
    // row-major RGB from the TOP: red, green, blue, white
    val expected = Array[Int](255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte)
    assert(p.data.toSeq == expected.toSeq)
  }

  test("REAL decode: PCM-16 WAV parses rate and downmixes stereo to mono") {
    val samplesL = Array[Short](1000, 2000, -3000)
    val samplesR = Array[Short](3000, 0, -1000)
    val nFrames = 3; val channels = 2; val rate = 8000
    val dataBytes = nFrames * channels * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1).putShort(channels.toShort)
      .putInt(rate).putInt(rate * channels * 2).putShort((channels * 2).toShort)
      .putShort(16)
    buf.put("data".getBytes).putInt(dataBytes)
    (0 until nFrames).foreach { i => buf.putShort(samplesL(i)).putShort(samplesR(i)) }
    val (r, mono) = MediaCodec.decodeAudio(buf.array())
    assert(r == rate)
    assert(mono.toSeq == Seq[Short](2000, 1000, -2000), s"got ${mono.toSeq}")
  }

  // Independent forward PNG encoder: applies the spec's FORWARD filter
  // transform per row (the decoder implements the inverse), deflates,
  // and wraps in chunks with real CRCs — so the round-trip pins the
  // decoder against the spec, not against its own code.
  private def encodePng(w: Int, h: Int, channels: Int, px: Array[Byte],
      filterForRow: Int => Int): Array[Byte] = {
    val colorType = channels match { case 1 => 0; case 3 => 2; case 4 => 6 }
    val stride = w * channels
    val raw = new Array[Byte]((stride + 1) * h)
    for (y <- 0 until h) {
      val ft = filterForRow(y)
      raw(y * (stride + 1)) = ft.toByte
      for (x <- 0 until stride) {
        val cur = px(y * stride + x) & 0xff
        val left = if (x >= channels) px(y * stride + x - channels) & 0xff else 0
        val up = if (y > 0) px((y - 1) * stride + x) & 0xff else 0
        val ul = if (y > 0 && x >= channels) px((y - 1) * stride + x - channels) & 0xff else 0
        val paeth = {
          val p = left + up - ul
          val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - ul)
          if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
        }
        val filtered = ft match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - ((left + up) >> 1)
          case 4 => cur - paeth
        }
        raw(y * (stride + 1) + 1 + x) = (filtered & 0xff).toByte
      }
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zBuf = new Array[Byte](raw.length + 128)
    val zLen = deflater.deflate(zBuf); deflater.end()
    def chunk(typ: String, body: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(body)
      java.nio.ByteBuffer.allocate(12 + body.length)
        .putInt(body.length).put(typ.getBytes("US-ASCII")).put(body)
        .putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", zBuf.take(zLen)) ++
      chunk("IEND", Array.empty[Byte])
  }

  test("REAL decode: PNG round-trips exactly through all five filter types") {
    // deterministic noise pixels, 7x11 so rows/cols exercise edges;
    // row y uses filter y % 5 — every filter type defilters correctly
    for (channels <- Seq(1, 3, 4)) {
      val w = 7; val h = 11
      val px = Array.tabulate(w * h * channels) { i =>
        var s = i.toLong * 0x9E3779B97F4A7C15L + channels
        s ^= s >>> 33; s *= 0xFF51AFD7ED558CCDL; s ^= s >>> 33
        (s & 0xff).toByte
      }
      val blob = encodePng(w, h, channels, px, y => y % 5)
      val p = MediaCodec.decodeImage(blob)
      assert(p.width == w && p.height == h && p.channels == channels)
      assert(p.data.toSeq == px.toSeq, s"channels=$channels pixel mismatch")
    }
  }

  test("PNG stub boundary: interlaced and palette forms throw specifically") {
    val px = Array.fill[Byte](4 * 4 * 3)(7)
    val ok = encodePng(4, 4, 3, px, _ => 0)
    // flip IHDR interlace byte (offset: 8 sig + 8 chunk hdr + 12)
    val interlaced = ok.clone(); interlaced(8 + 8 + 12) = 1
    val e1 = intercept[IllegalArgumentException] { MediaCodec.decodeImage(interlaced) }
    assert(e1.getMessage.contains("interlaced"))
    // flip color type to 3 (palette)
    val palette = ok.clone(); palette(8 + 8 + 9) = 3
    val e2 = intercept[IllegalArgumentException] { MediaCodec.decodeImage(palette) }
    assert(e2.getMessage.contains("color type"))
    // truncated IDAT must throw, not hang
    val truncated = ok.take(8 + 8 + 13 + 4 + 8 + 4)
    intercept[Exception] { MediaCodec.decodeImage(truncated) }
  }

  test("PNG blobs flow through the distributed feature pipeline") {
    val px = Array.tabulate(16 * 16 * 3)(i => (i * 3).toByte)
    val blob = encodePng(16, 16, 3, px, y => y % 5)
    val df = Seq((1L, blob, "image/png")).toDF("media_id", "bytes", "mime")
    val out = Multimodal.imageFeatures(df, gridDim = 2).collect()
    assert(out.length == 1 && out.head.width == 16 && out.head.embedding.length == 12)
  }

  test("corrupt WAV chunk sizes throw instead of hanging the chunk walk") {
    // size = -8 would leave pos fixed forever without the guard; an
    // oversized size would read past the blob. Both must throw (the
    // exception is what routes the blob to the poison queue).
    def wav(chunkSize: Int): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(20)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(12).put("WAVE".getBytes)
      buf.put("junk".getBytes).putInt(chunkSize)
      buf.array()
    }
    val neg = intercept[IllegalArgumentException] { MediaCodec.decodeAudio(wav(-8)) }
    assert(neg.getMessage.contains("corrupt WAV chunk"))
    intercept[IllegalArgumentException] { MediaCodec.decodeAudio(wav(1 << 20)) }
    // Int-overflow bypass: size = MaxValue makes body+size wrap
    // NEGATIVE and pass an int guard — then a ~2 GB allocation OOMs
    // the executor before any bounds check (OOM escapes the poison
    // middleware). The long-space guard must throw first.
    intercept[IllegalArgumentException] {
      MediaCodec.decodeAudio(wav(Int.MaxValue))
    }
  }

  test("rmsEnergy rejects windows <= 0 at the API edge") {
    // windows=0 would otherwise surface as one '/ by zero' PER ROW on
    // executors — N poison rows for one caller mistake
    intercept[IllegalArgumentException] {
      MediaCodec.rmsEnergy(Array[Short](1, 2, 3), 0)
    }
  }

  test("real-format blobs flow through the distributed feature pipeline") {
    val ppm = "P6\n4 4\n255\n".getBytes("US-ASCII") ++
      Array.tabulate(48)(i => (i * 5).toByte)
    val df = Seq((1L, ppm, "image/x-portable-pixmap")).toDF("media_id", "bytes", "mime")
    val feats = Multimodal.imageFeatures(df, gridDim = 2).collect()
    assert(feats.length == 1 && feats.head.embedding.length == 12)
  }

  private def encodeGimg(p: MediaCodec.Pixels): Array[Byte] =
    java.nio.ByteBuffer.allocate(13 + p.data.length)
      .put("GIMG".getBytes("US-ASCII"))
      .putInt(p.width).putInt(p.height).put(p.channels.toByte)
      .put(p.data).array()

  /** Deterministic smooth gradient → in-JDK JPEG bytes. Smooth content
    * keeps DCT quantization error small, so fidelity bounds are tight
    * without depending on the encoder's exact quality tables. */
  private def encodeJpeg(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = x * 255 / math.max(1, w - 1)
      val g = y * 255 / math.max(1, h - 1)
      val b = (x + y) * 255 / math.max(1, w + h - 2)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", baos),
      "JDK has no JPEG writer — imageio plugin missing")
    baos.toByteArray
  }

  test("REAL decode: JPEG via javax.imageio — deterministic within-JVM, faithful on smooth content") {
    val w = 48; val h = 32
    val blob = encodeJpeg(w, h)
    assert(blob(0) == 0xFF.toByte && blob(1) == 0xD8.toByte, "not a JPEG stream")
    val p1 = MediaCodec.decodeImage(blob)
    assert(p1.width == w && p1.height == h && p1.channels == 3)
    // within-JVM determinism (the cross-JDK caveat is documented at
    // decodeJpeg: IDCT error tolerance means ±1 across JDK vendors)
    val p2 = MediaCodec.decodeImage(blob)
    assert(p1.data.toSeq == p2.data.toSeq, "same bytes must decode identically")
    // lossy-roundtrip fidelity: per-channel mean abs error small on a
    // smooth gradient (catches channel-order/stride/row-origin bugs —
    // a BGR swap or flipped rows would blow this bound by ~100)
    var errSum = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val base = (y * w + x) * 3
      val r = x * 255 / (w - 1); val g = y * 255 / (h - 1)
      val b = (x + y) * 255 / (w + h - 2)
      errSum += math.abs((p1.data(base) & 0xff) - r) +
        math.abs((p1.data(base + 1) & 0xff) - g) +
        math.abs((p1.data(base + 2) & 0xff) - b)
    }
    val meanErr = errSum.toDouble / (w * h * 3)
    assert(meanErr < 6.0, s"JPEG roundtrip mean abs error $meanErr — layout bug?")
    info(f"JPEG roundtrip mean abs error: $meanErr%.2f")
  }

  test("grayscale JPEG decodes to its stored samples, one channel") {
    // read through getRGB, gray is gamma-mapped to sRGB: a flat-64
    // image came back as 137 in each of 3 channels
    val (w, h) = (16, 16)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    for (y <- 0 until h; x <- 0 until w) raster.setSample(x, y, 0, 64)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", baos),
      "JDK has no JPEG writer — imageio plugin missing")
    val px = MediaCodec.decodeImage(baos.toByteArray)
    assert(px.width == w && px.height == h && px.channels == 1, px)
    val values = px.data.map(_ & 0xff).toSet
    assert(values.forall(v => math.abs(v - 64) <= 1), s"flat 64 decoded as $values")
  }

  test("JPEG survives the perceptual-hash path and the distributed pipeline") {
    val blob = encodeJpeg(64, 64)
    // the perceptual fingerprint of the decoded JPEG must match the
    // lossless original's: aHash/dHash are exactly the JPEG-robust
    // hashes, so the lossy roundtrip may not move a single bit here
    val px = MediaCodec.decodeImage(blob)
    val orig = {
      val data = new Array[Byte](64 * 64 * 3)
      for (y <- 0 until 64; x <- 0 until 64) {
        val base = (y * 64 + x) * 3
        data(base) = (x * 255 / 63).toByte
        data(base + 1) = (y * 255 / 63).toByte
        data(base + 2) = ((x + y) * 255 / 126).toByte
      }
      MediaCodec.Pixels(64, 64, 3, data)
    }
    assert(MediaCodec.aHash64(px) == MediaCodec.aHash64(orig),
      "aHash must survive JPEG encode/decode of a smooth image")
    assert(MediaCodec.dHash64(px) == MediaCodec.dHash64(orig),
      "dHash must survive JPEG encode/decode of a smooth image")
    // Spark-side plumbing: JPEG blobs flow through the batched decode
    val df = Seq((1L, blob), (2L, encodeJpeg(32, 16))).toDF("media_id", "bytes")
    val recs = Multimodal.imageFeatures(df, gridDim = 2).collect()
      .map(r => r.media_id -> ((r.width, r.height, r.channels))).toMap
    assert(recs == Map(1L -> ((64, 64, 3)), 2L -> ((32, 16, 3))), s"got $recs")
  }

  test("perceptual hashes survive nearest-neighbor upscaling") {
    val px = MediaCodec.decodeImage(MediaCodec.encodeFakeImage(16, 16, 3, seed = 5))
    val up = MediaCodec.resizeNearest(px, 32, 32)
    // aHash: 8 divides 16 and 32, so every grid cell covers exactly
    // the same source pixels — bit-identical
    assert(MediaCodec.aHash64(px) == MediaCodec.aHash64(up))
    // dHash: the 9-wide grid can't divide either width, so upscaling
    // re-partitions boundary pixels between cells — identity doesn't
    // hold, the near-dup property (small Hamming drift) does
    val d = java.lang.Long.bitCount(
      MediaCodec.dHash64(px) ^ MediaCodec.dHash64(up))
    assert(d <= 3, s"dHash drifted $d bits under 2x upscale")
  }

  test("perceptual hashes are invariant to a global brightness shift") {
    // values bounded to 0..179 so +20 cannot wrap
    val data = Array.tabulate(16 * 16)(i => ((i * 7) % 180).toByte)
    val base = MediaCodec.Pixels(16, 16, 1, data)
    val shifted = MediaCodec.Pixels(16, 16, 1, data.map(b => (b + 20).toByte))
    assert(MediaCodec.dHash64(base) == MediaCodec.dHash64(shifted))
    assert(MediaCodec.aHash64(base) == MediaCodec.aHash64(shifted))
  }

  test("imageNearDups recalls a planted perceptual near-duplicate") {
    val rnd = (0 until 30).map(i =>
      (i.toLong, MediaCodec.encodeFakeImage(32, 24, 3, seed = 100 + i)))
    // near-dup of image 0: a couple of pixels nudged slightly — the
    // grid means barely move, so the dHash stays within banding range
    val basePx = MediaCodec.decodeImage(rnd.head._2)
    val tweaked = basePx.data.clone()
    (0 until 6).foreach(k => tweaked(k) = (tweaked(k) + 3).toByte)
    val dup = (1000L, encodeGimg(MediaCodec.Pixels(32, 24, 3, tweaked)))
    val df = (rnd :+ dup).toDF("media_id", "bytes")
    val pairs = Multimodal.imageNearDups(df, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists { case (a, b, _) => a == 0L && b == 1000L },
      s"planted near-dup not recalled; got ${pairs.toSeq}")
    assert(pairs.forall { case (a, b, h) => a < b && h <= 3 })
    // distinct random images must not be called duplicates
    assert(pairs.forall { case (a, b, _) => b == 1000L || (a, b) == ((0L, 1000L)) },
      s"false positives among unrelated images: ${pairs.toSeq}")
  }
}
