package graft.multimodal

import java.nio.ByteBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) columns for a training-data
  * pipeline: media ride as opaque BINARY columns with typed metadata;
  * decode / resize / feature-extract / frame-sample run as BATCHED
  * partition-local transforms (`mapPartitions` over row batches — the
  * JVM analogue of an Arrow-batched Python UDF), so blobs never leave
  * executors and the driver only ever sees plan metadata.
  *
  * DECODE SUPPORT — standard formats decoded for REAL with zero
  * dependencies beyond the JDK: binary PPM (`P6`), uncompressed
  * 24-bit BMP, non-interlaced 8-bit PNG (grayscale/RGB/RGBA — zlib
  * via `java.util.zip.Inflater` + the five spec filters), and JPEG
  * (via the in-JDK `javax.imageio` plugin — see [[MediaCodec
  * .decodeJpeg]] for the JDK-version determinism caveat) images;
  * PCM-16 WAV audio (multi-channel averaged to mono). The remaining
  * STUB BOUNDARY — clearly marked — is formats with no in-JDK codec:
  * WebP/AVIF, palette/16-bit/interlaced PNG, MP3/FLAC, and MP4
  * container indexes ([[MediaCodec.videoFrameOffsets]] parses the
  * "GVID" test container). A production build adds codec branches at
  * exactly those dispatch points; everything downstream — resize,
  * pooling, RMS energy, frame explode, partition packing — is real
  * arithmetic over the decoded arrays and is tested as such.
  * Deterministic test containers ("GIMG"/"GAUD"/"GVID") remain for
  * compressed-path plumbing tests.
  */
object MediaCodec {

  // ---- deterministic fake container format (the stub) ----

  /** "GIMG" | width:int | height:int | channels:byte | pixels... */
  def encodeFakeImage(width: Int, height: Int, channels: Int, seed: Long): Array[Byte] = {
    val px = new Array[Byte](width * height * channels)
    var s = seed
    var i = 0
    while (i < px.length) { // xorshift64 — deterministic pixel noise
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      px(i) = (s & 0xff).toByte
      i += 1
    }
    ByteBuffer.allocate(13 + px.length).put("GIMG".getBytes("US-ASCII"))
      .putInt(width).putInt(height).put(channels.toByte).put(px).array()
  }

  /** "GAUD" | sampleRate:int | nSamples:int | samples (int16 LE)... */
  def encodeFakeAudio(sampleRate: Int, nSamples: Int, seed: Long): Array[Byte] = {
    val buf = ByteBuffer.allocate(12 + nSamples * 2)
    buf.put("GAUD".getBytes("US-ASCII")).putInt(sampleRate).putInt(nSamples)
    var s = seed
    (0 until nSamples).foreach { _ =>
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      buf.putShort((s & 0x7fff).toShort)
    }
    buf.array()
  }

  /** "GVID" | fps:int | nFrames:int | frame0(GIMG) | frame1 ... */
  def encodeFakeVideo(fps: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    val total = 12 + frames.map(4 + _.length).sum
    val buf = ByteBuffer.allocate(total)
    buf.put("GVID".getBytes("US-ASCII")).putInt(fps).putInt(frames.length)
    frames.foreach(f => buf.putInt(f.length).put(f))
    buf.array()
  }

  final case class Pixels(width: Int, height: Int, channels: Int, data: Array[Byte])

  /** Image decode, dispatching on magic bytes:
    *  - `P6`   — binary PPM (netpbm), REAL decode, zero dependencies;
    *  - `BM`   — uncompressed 24-bit BMP, REAL decode (bottom-up rows,
    *             4-byte row padding, BGR→RGB);
    *  - `\x89PNG` — non-interlaced 8-bit gray/RGB/RGBA, REAL decode
    *             (Inflater + defilter);
    *  - `\xFF\xD8` — JPEG, REAL decode via the in-JDK `javax.imageio`
    *             reader (see [[decodeJpeg]] for the JDK-version
    *             determinism caveat);
    *  - `GIMG` — the deterministic test container;
    *  - anything else (WebP/AVIF/HEIC — formats with no in-JDK codec)
    *    throws: the remaining STUB BOUNDARY. Poison-queue routing
    *    handles rejects upstream; a production build adds codec
    *    branches here. */
  def decodeImage(bytes: Array[Byte]): Pixels = {
    require(bytes.length >= 4, "image blob too short")
    if (bytes(0) == 'P' && bytes(1) == '6') decodePpm(bytes)
    else if (bytes(0) == 'B' && bytes(1) == 'M') decodeBmp24(bytes)
    else if (bytes(0) == 0x89.toByte && bytes(1) == 'P' && bytes(2) == 'N' &&
      bytes(3) == 'G') decodePng(bytes)
    else if (bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) decodeJpeg(bytes)
    else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'M' && bytes(3) == 'G') {
      val buf = ByteBuffer.wrap(bytes); buf.position(4)
      val w = buf.getInt; val h = buf.getInt; val c = buf.get().toInt
      // decode-bomb guard (the PNG/WAV long-space rule): dimensions are
      // untrusted header input, and an UNCOMPRESSED format's pixel
      // bytes must actually be present in the blob — without this, a
      // 13-byte blob claiming 2^30 x 2^30 allocates gigabytes BEFORE
      // any read fails, and the resulting OutOfMemoryError escapes the
      // poison middleware (an executor death loop, not a dead letter).
      // Bound w*h FIRST: w.toLong*h can't wrap (≤ 2^62) but w.toLong*h*c
      // CAN exceed 2^63 for Int-range w,h and c up to 127 — comparing a
      // wrapped product passes the check it was meant to enforce
      require(w > 0 && h > 0 && c > 0 &&
        w.toLong * h <= bytes.length - 13L &&
        w.toLong * h * c <= bytes.length - 13L,
        s"corrupt GIMG header: ${w}x$h x$c vs ${bytes.length} blob bytes")
      val px = new Array[Byte](w * h * c); buf.get(px)
      Pixels(w, h, c, px)
    } else throw new IllegalArgumentException(
      "unsupported image format (codec-library formats are the stub boundary: " +
        "this build decodes P6 PPM, 24-bit BMP, non-interlaced 8-bit PNG, " +
        "baseline JPEG, and the GIMG test container)")
  }

  /** JPEG via the in-JDK `javax.imageio` plugin — zero new
    * dependencies, headless-safe. Two passes: (1) the plugin decodes
    * the DCT stream to a `BufferedImage` (whatever raster layout it
    * picks); (2) a normalization pass copies the raster's samples
    * (`getRaster.getPixels`, band order) into the canonical row-major
    * interleaved layout every other decoder here produces, so
    * downstream arithmetic (resize/pool/aHash) never sees the plugin's
    * internal representation. The file's band count is kept: 1 channel
    * for grayscale, 3 for colour. Samples are copied as stored — not
    * through `getRGB`, whose colour-space conversion gamma-maps gray
    * (a flat-64 gray JPEG read back as 137 in each of 3 channels), so
    * the same gray pixels hash alike as JPEG and as PPM/PNG.
    *
    * JDK-VERSION CAVEAT: JPEG decoding is exact-deterministic WITHIN a
    * JVM (same bytes → same pixels, every call — MultimodalSpec pins
    * this), but the JPEG spec only bounds IDCT error (ISO/IEC 10918-1
    * Annex A), so ABSOLUTE pixel values may differ by ±1 across JDK
    * vendors/versions with different IDCT implementations. Fingerprints
    * derived from JPEG pixels (aHash/dHash) are therefore stable within
    * a deployment but not a cross-JDK contract — re-hash after a JDK
    * upgrade, exactly as you would re-shingle after changing a
    * tokenizer. Formats with bit-exact decode specs (PNG/PPM/BMP/WAV)
    * carry no such caveat. */
  // no disk-backed image cache: ImageIO's default FileCacheImageInput-
  // Stream writes every JPEG's compressed bytes to an executor temp
  // file on the hot decode path — pure I/O churn at millions of
  // images, and an outright failure when java.io.tmpdir is full or
  // read-only. In-memory caching decodes straight from the blob.
  javax.imageio.ImageIO.setUseCache(false)

  private def decodeJpeg(bytes: Array[Byte]): Pixels = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "javax.imageio could not decode the JPEG stream " +
      "(progressive/arithmetic variants unsupported by the JDK plugin)")
    val w = img.getWidth; val h = img.getHeight
    require(w > 0 && h > 0, s"bad JPEG dimensions ${w}x$h")
    // one batched getPixels call (not per-pixel): every band's samples,
    // interleaved per pixel in band order (R, G, B for colour)
    val raster = img.getRaster
    Pixels(w, h, raster.getNumBands, raster.getPixels(0, 0, w, h, null: Array[Int]).map(_.toByte))
  }

  /** Binary PPM (P6): ASCII header `P6 <w> <h> <maxval>` with
    * `#`-comment and whitespace handling, then w*h RGB byte triples. */
  private def decodePpm(bytes: Array[Byte]): Pixels = {
    var pos = 2 // past "P6"
    def nextInt(): Int = {
      // skip whitespace and # comments
      while (pos < bytes.length &&
        (bytes(pos).toChar.isWhitespace || bytes(pos) == '#')) {
        if (bytes(pos) == '#') while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        else pos += 1
      }
      var v = 0
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0'); pos += 1
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxv = nextInt()
    require(w > 0 && h > 0, s"bad PPM dimensions ${w}x$h")
    require(maxv == 255, s"only 8-bit PPM supported, maxval=$maxv")
    pos += 1 // single whitespace after maxval per spec
    // decode-bomb guard in LONG space (the GIMG rule): w*h*3 wraps Int
    // for crafted headers — either a gigabyte allocation from a tiny
    // blob (OOM escapes the poison middleware) or a wrapped-small
    // array under huge declared dimensions. Bound w*h FIRST: w.toLong*h
    // can't wrap (≤ 2^62) but w.toLong*h*3 CAN exceed 2^63 for w,h both
    // near Int.MaxValue, and the wrapped-negative product would pass
    require(w.toLong * h <= (bytes.length - pos).toLong &&
      w.toLong * h * 3 <= bytes.length - pos,
      s"PPM pixel data short: ${w}x$h needs w*h*3 bytes, " +
        s"blob has ${bytes.length - pos} past the header")
    val px = new Array[Byte](w * h * 3)
    System.arraycopy(bytes, pos, px, 0, px.length)
    Pixels(w, h, 3, px)
  }

  /** Uncompressed 24-bit BMP (BITMAPINFOHEADER): rows are bottom-up
    * (negative height = top-down), padded to 4 bytes, pixels BGR. */
  private def decodeBmp24(bytes: Array[Byte]): Pixels = {
    val buf = ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dataOffset = buf.getInt(10)
    val w = buf.getInt(18)
    val hRaw = buf.getInt(22)
    val bpp = buf.getShort(28).toInt
    val compression = buf.getInt(30)
    require(bpp == 24 && compression == 0,
      s"only uncompressed 24-bit BMP supported (bpp=$bpp, compression=$compression)")
    val h = math.abs(hRaw)
    val topDown = hRaw < 0
    // decode-bomb guard in LONG space (the GIMG rule): header
    // dimensions are untrusted, rows are padded to 4 bytes, and every
    // declared pixel row must be present in the blob before anything
    // allocates. Division, not multiplication: rowBytesL*h wraps past
    // 2^63 for w near Int.MaxValue with h ≳ 1.5e9, and the wrapped-
    // negative product would pass the ≤ check — h ≤ (len-off)/rowBytesL
    // is the same bound and can't overflow (the && short-circuit keeps
    // the division behind w > 0, so rowBytesL ≥ 4 when it runs)
    val rowBytesL = (w.toLong * 3 + 3) / 4 * 4
    require(w > 0 && h > 0 && dataOffset >= 0 && dataOffset <= bytes.length &&
      h <= (bytes.length - dataOffset) / rowBytesL,
      s"corrupt BMP header: ${w}x$h rows at offset $dataOffset vs " +
        s"${bytes.length} blob bytes")
    val rowBytes = rowBytesL.toInt
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = dataOffset + (if (topDown) y else h - 1 - y) * rowBytes
      var x = 0
      while (x < w) {
        val s = srcRow + x * 3
        val d = (y * w + x) * 3
        px(d) = bytes(s + 2)     // R
        px(d + 1) = bytes(s + 1) // G
        px(d + 2) = bytes(s)     // B
        x += 1
      }
      y += 1
    }
    Pixels(w, h, 3, px)
  }

  /** PNG, REAL decode for the non-interlaced 8-bit-depth forms
    * (grayscale / RGB / RGBA — color types 0, 2, 6): chunk walk over
    * IHDR/IDAT, `java.util.zip.Inflater` for the zlib stream (in-JVM,
    * zero codec dependencies — the Deflater twin already powers the
    * compressibility screen), then per-row defiltering (None/Sub/Up/
    * Average/Paeth, the PNG spec's five filter types). Palette,
    * 16-bit, and Adam7-interlaced PNGs stay behind the stub boundary
    * and throw with a specific message. Every length field is treated
    * as untrusted (same rule as the WAV chunk walk). */
  private def decodePng(bytes: Array[Byte]): Pixels = {
    val buf = ByteBuffer.wrap(bytes) // PNG ints are big-endian
    require(bytes.length >= 8 + 25 && buf.getInt(4) == 0x0D0A1A0A,
      "corrupt PNG signature")
    var pos = 8
    var w = 0; var h = 0; var seenIhdr = false
    var colorType = -1
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done && pos + 8 <= bytes.length) {
      val len = buf.getInt(pos)
      val body = pos + 8
      // long comparison — an int body+len+4 overflows negative for a
      // crafted len and would pass (the WAV rule)
      require(len >= 0 && body.toLong + len + 4 <= bytes.length,
        s"corrupt PNG chunk at $pos: len=$len, blob=${bytes.length}")
      val typ = new String(bytes, pos + 4, 4, "US-ASCII")
      typ match {
        case "IHDR" =>
          require(len >= 13, "short IHDR")
          w = buf.getInt(body); h = buf.getInt(body + 4)
          val bitDepth = bytes(body + 8) & 0xff
          colorType = bytes(body + 9) & 0xff
          val interlace = bytes(body + 12) & 0xff
          require(bitDepth == 8, s"only 8-bit-depth PNG supported, depth=$bitDepth")
          require(interlace == 0, "Adam7-interlaced PNG not supported")
          seenIhdr = true
        case "IDAT" => idat.write(bytes, body, len)
        case "IEND" => done = true
        case _ => () // ancillary chunks (tEXt, pHYs, gAMA, …) skip
      }
      pos = body + len + 4 // + CRC
    }
    require(seenIhdr && w > 0 && h > 0, "PNG missing IHDR")
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 6 => 4
      case ct => throw new IllegalArgumentException(
        s"PNG color type $ct not supported (palette/gray-alpha are the stub boundary)")
    }
    // one zlib stream across all IDAT chunks; output = h rows of
    // (1 filter byte + w*channels filtered samples). Dimensions are
    // untrusted IHDR input: (stride+1)*h can wrap for crafted w/h and
    // allocate a tiny array for huge declared dimensions — guard via
    // division, not multiplication: (w.toLong*channels+1)*h itself
    // exceeds 2^63 for w,h both near Int.MaxValue and the wrapped
    // product would pass the ≤ check (w > 0 is already required, so
    // the divisor is ≥ 2 and the division can't overflow or divide by 0)
    require(h <= Int.MaxValue / (w.toLong * channels + 1),
      s"PNG dimensions overflow: ${w}x$h x$channels")
    val stride = w * channels
    // blob-proportionality for the COMPRESSED format: deflate's
    // worst-case expansion is < 1032:1 (5 bytes of block overhead per
    // ≤ 64 KB stored run), so declared pixel rows beyond idat·1032
    // cannot come from ANY zlib stream — reject before allocating.
    // Without this, a ~100-byte blob with a crafted IHDR allocates up
    // to 2 GB that the truncated-stream check only rejects AFTERWARDS:
    // the OOM-escapes-poison class on any executor heap smaller than
    // the declared raster
    require((stride + 1).toLong * h <= idat.size().toLong * 1032 + 64,
      s"PNG declared pixels exceed the deflate bound: ${w}x$h x$channels " +
        s"from ${idat.size()} compressed bytes")
    val raw = new Array[Byte]((stride + 1) * h)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    try {
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          throw new IllegalArgumentException("truncated PNG IDAT stream")
        off += n
      }
    } finally inf.end()
    require(off == raw.length, s"PNG pixel data short: $off of ${raw.length}")
    // defilter in place-order: each row's filter reconstructs against
    // the already-reconstructed previous row / left pixel
    val out = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val ft = raw(y * (stride + 1)) & 0xff
      val rowIn = y * (stride + 1) + 1
      val rowOut = y * stride
      var x = 0
      while (x < stride) {
        val cur = raw(rowIn + x) & 0xff
        val left = if (x >= channels) out(rowOut + x - channels) & 0xff else 0
        val up = if (y > 0) out(rowOut - stride + x) & 0xff else 0
        val ul = if (y > 0 && x >= channels) out(rowOut - stride + x - channels) & 0xff else 0
        val v = ft match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + ((left + up) >> 1)
          case 4 => cur + paeth(left, up, ul)
          case f => throw new IllegalArgumentException(s"bad PNG filter type $f at row $y")
        }
        out(rowOut + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    Pixels(w, h, channels, out)
  }

  /** Paeth predictor (PNG spec §9.4) — exact tie-break order matters. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Audio decode, dispatching on magic bytes:
    *  - `RIFF..WAVE` — PCM 16-bit WAV, REAL decode (chunk walk,
    *    channels averaged to mono);
    *  - `GAUD` — the deterministic test container;
    *  - anything else (MP3/FLAC/OGG) throws: the stub boundary. */
  def decodeAudio(bytes: Array[Byte]): (Int, Array[Short]) = {
    require(bytes.length >= 4, "audio blob too short")
    if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F')
      decodeWavPcm16(bytes)
    else if (bytes(0) == 'G' && bytes(1) == 'A' && bytes(2) == 'U' && bytes(3) == 'D') {
      val buf = ByteBuffer.wrap(bytes); buf.position(4)
      val rate = buf.getInt; val n = buf.getInt
      // decode-bomb guard (the GIMG rule): every declared int16 sample
      // must be present in the blob before the array allocates
      require(n >= 0 && 12L + n.toLong * 2 <= bytes.length,
        s"corrupt GAUD header: $n samples vs ${bytes.length} blob bytes")
      val out = new Array[Short](n)
      var i = 0; while (i < n) { out(i) = buf.getShort; i += 1 }
      (rate, out)
    } else throw new IllegalArgumentException(
      "unsupported audio format (compressed formats are the stub boundary: " +
        "this build decodes PCM-16 WAV and the GAUD test container)")
  }

  /** RIFF/WAVE walk: `fmt ` must declare PCM (format 1) at 16 bits;
    * multi-channel frames average to mono (standard feature-extraction
    * downmix). */
  private def decodeWavPcm16(bytes: Array[Byte]): (Int, Array[Short]) = {
    val buf = ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 12 &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E',
      "RIFF blob is not WAVE")
    var pos = 12
    var rate = -1; var channels = -1
    var samples: Array[Short] = null
    while (pos + 8 <= bytes.length) {
      val id = new String(bytes, pos, 4, "US-ASCII")
      val size = buf.getInt(pos + 4)
      val body = pos + 8
      // the chunk size is untrusted input: a negative or oversized value
      // would stall (size = -8 leaves pos fixed) or walk pos backwards —
      // an executor hang instead of the exception poison-routing expects.
      // LONG comparison: body + size near Int.MaxValue overflows
      // negative and would PASS an int check, then allocate ~2 GB
      // before any read fails (OOM escapes the poison middleware)
      require(size >= 0 && body.toLong + size <= bytes.length,
        s"corrupt WAV chunk '$id' at $pos: size=$size, blob=${bytes.length}")
      id match {
        case "fmt " =>
          val fmt = buf.getShort(body).toInt
          require(fmt == 1, s"only PCM WAV supported, format=$fmt")
          channels = buf.getShort(body + 2).toInt
          rate = buf.getInt(body + 4)
          val bits = buf.getShort(body + 14).toInt
          require(bits == 16, s"only 16-bit PCM supported, bits=$bits")
        case "data" =>
          require(rate > 0, "WAV data chunk before fmt chunk")
          val nFrames = size / (2 * channels)
          samples = new Array[Short](nFrames)
          var f = 0
          while (f < nFrames) {
            var acc = 0
            var c = 0
            while (c < channels) { acc += buf.getShort(body + (f * channels + c) * 2); c += 1 }
            samples(f) = (acc / channels).toShort
            f += 1
          }
        case _ => () // skip LIST/INFO/etc chunks
      }
      pos = body + size + (size & 1) // chunks are word-aligned
    }
    require(samples != null, "WAV has no data chunk")
    (rate, samples)
  }

  /** STUB — a real build reads container indexes (mp4 moov). Returns
    * (fps, frame byte ranges) without materializing frames. */
  def videoFrameOffsets(bytes: Array[Byte]): (Int, Seq[(Int, Int)]) = {
    val buf = ByteBuffer.wrap(bytes)
    val magic = new Array[Byte](4); buf.get(magic)
    require(new String(magic, "US-ASCII") == "GVID", "not a GVID blob (stub decoder)")
    val fps = buf.getInt; val n = buf.getInt
    // decode-bomb guard: every frame record needs at least its 4-byte
    // length header, so a crafted count past that bound would allocate
    // a giant offsets list from a tiny blob before any read failed
    require(n >= 0 && n.toLong * 4 <= bytes.length - 12L,
      s"corrupt GVID header: $n frames vs ${bytes.length} blob bytes")
    val offsets = (0 until n).map { _ =>
      val len = buf.getInt; val pos = buf.position()
      // the per-frame length is untrusted too: a SMALL negative value
      // (≥ −pos) keeps position() in bounds, silently returning an
      // out-of-blob range and re-indexing already-walked bytes — a
      // deferred crash in whatever slices the frame later. Long
      // comparison for the oversize side (pos + len wraps for len near
      // Int.MaxValue and would pass an int check)
      require(len >= 0 && pos.toLong + len <= bytes.length,
        s"corrupt GVID frame record at $pos: len=$len vs " +
          s"${bytes.length} blob bytes")
      buf.position(pos + len)
      (pos, len)
    }
    (fps, offsets)
  }

  // ---- real array arithmetic (NOT stubbed) ----

  /** Nearest-neighbor resample — real implementation. */
  def resizeNearest(p: Pixels, newW: Int, newH: Int): Pixels = {
    val out = new Array[Byte](newW * newH * p.channels)
    var y = 0
    while (y < newH) {
      val sy = (y.toLong * p.height / newH).toInt
      var x = 0
      while (x < newW) {
        val sx = (x.toLong * p.width / newW).toInt
        var c = 0
        while (c < p.channels) {
          out((y * newW + x) * p.channels + c) =
            p.data((sy * p.width + sx) * p.channels + c)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    Pixels(newW, newH, p.channels, out)
  }

  /** Grid mean-pool feature vector (gridDim × gridDim × channels) —
    * real implementation, the classic cheap visual embedding. */
  def gridMeanPool(p: Pixels, gridDim: Int): Array[Float] = {
    // accumulate in DOUBLE (grayGrid's rule): a float running sum past
    // 2^24 has ulp > the per-pixel increment, so large-image cell sums
    // stop growing and the mean is systematically biased — the float
    // lives only in the output embedding
    val sums = new Array[Double](gridDim * gridDim * p.channels)
    val counts = new Array[Int](sums.length)
    var y = 0
    while (y < p.height) {
      val gy = math.min(y * gridDim / p.height, gridDim - 1)
      var x = 0
      while (x < p.width) {
        val gx = math.min(x * gridDim / p.width, gridDim - 1)
        var c = 0
        while (c < p.channels) {
          val k = (gy * gridDim + gx) * p.channels + c
          sums(k) += (p.data((y * p.width + x) * p.channels + c) & 0xff)
          counts(k) += 1
          c += 1
        }
        x += 1
      }
      y += 1
    }
    val out = new Array[Float](sums.length)
    var k = 0
    while (k < out.length) {
      out(k) = if (counts(k) > 0) (sums(k) / counts(k)).toFloat else 0f
      k += 1
    }
    out
  }

  /** Mean-pooled GRAYSCALE grid (gw × gh cells, Rec.601 luma for RGB,
    * raw value for single-channel) — the shared downscale behind the
    * perceptual hashes. Cell means in double to keep the threshold
    * comparisons exact and deterministic. */
  def grayGrid(p: Pixels, gw: Int, gh: Int): Array[Double] = {
    val sums = new Array[Double](gw * gh)
    val counts = new Array[Int](gw * gh)
    var y = 0
    while (y < p.height) {
      val gy = math.min(y * gh / p.height, gh - 1)
      var x = 0
      while (x < p.width) {
        val gx = math.min(x * gw / p.width, gw - 1)
        val base = (y * p.width + x) * p.channels
        val luma =
          if (p.channels >= 3)
            0.299 * (p.data(base) & 0xff) + 0.587 * (p.data(base + 1) & 0xff) +
              0.114 * (p.data(base + 2) & 0xff)
          else (p.data(base) & 0xff).toDouble
        val k = gy * gw + gx
        sums(k) += luma
        counts(k) += 1
        x += 1
      }
      y += 1
    }
    var k = 0
    while (k < sums.length) { if (counts(k) > 0) sums(k) /= counts(k); k += 1 }
    sums
  }

  /** 64-bit average-hash: 8×8 grayscale grid, bit set where the cell
    * clears the grid mean — the classic perceptual image fingerprint
    * (robust to re-encode/resize, not to crops or rotation). Strict
    * `>` so a constant image hashes to 0, deterministically. */
  def aHash64(p: Pixels): Long = {
    val g = grayGrid(p, 8, 8)
    var mean = 0.0
    var i = 0
    while (i < 64) { mean += g(i); i += 1 }
    mean /= 64.0
    var h = 0L
    i = 0
    while (i < 64) { if (g(i) > mean) h |= 1L << i; i += 1 }
    h
  }

  /** 64-bit difference-hash: 9×8 grayscale grid, bit set where a cell
    * is brighter than its right neighbor — the horizontal-gradient
    * sign pattern. Invariant to global brightness/contrast shifts
    * (which move every aHash cell against the mean together). */
  def dHash64(p: Pixels): Long = {
    val g = grayGrid(p, 9, 8)
    var h = 0L
    var row = 0
    while (row < 8) {
      var c = 0
      while (c < 8) {
        if (g(row * 9 + c) > g(row * 9 + c + 1)) h |= 1L << (row * 8 + c)
        c += 1
      }
      row += 1
    }
    h
  }

  /** Windowed RMS energy over int16 samples — real implementation. */
  def rmsEnergy(samples: Array[Short], windows: Int): Array[Float] = {
    // loud at the API edge: windows=0 would otherwise surface as one
    // '/ by zero' PER ROW inside executors (N poison rows for one
    // caller mistake), negative as NegativeArraySizeException
    require(windows > 0, s"rmsEnergy needs windows > 0, got $windows")
    val out = new Array[Float](windows)
    if (samples.isEmpty) return out
    val per = math.max(1, samples.length / windows)
    var w = 0
    while (w < windows) {
      val from = w * per
      // the LAST window absorbs the len % windows trailing samples —
      // truncating them dropped up to ~half the signal for clips with
      // windows < len < 2*windows (a loud tail event scored zero)
      val to =
        if (w == windows - 1) samples.length
        else math.min(samples.length, from + per)
      var acc = 0.0
      var i = from
      while (i < to) { val v = samples(i).toDouble; acc += v * v; i += 1 }
      out(w) = if (to > from) math.sqrt(acc / (to - from)).toFloat else 0f
      w += 1
    }
    out
  }
}

/** Typed results of the media stages. */
final case class ImageRecord(media_id: Long, width: Int, height: Int,
    channels: Int, n_bytes: Long, embedding: Array[Float])
final case class AudioRecord(media_id: Long, sample_rate: Int,
    n_samples: Int, energy: Array[Float])
final case class FrameRecord(media_id: Long, frame_idx: Int, ts_ms: Long,
    width: Int, height: Int, embedding: Array[Float])
final case class ImageHashRecord(media_id: Long, ahash: Long, dhash: Long)

/** The Spark-side plumbing: schemas, batched partition transforms,
  * size-aware partitioning. All stages are `Dataset`-typed
  * `mapPartitions` with an explicit row-batch shape (`batchSize`), the
  * same contract an Arrow-batched UDF gives a Python pipeline.
  */
object Multimodal {

  /** Media envelope for dynamic frames: id + opaque bytes + mime. */
  val mediaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("media_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("bytes",
      org.apache.spark.sql.types.BinaryType, nullable = true),
    org.apache.spark.sql.types.StructField("mime",
      org.apache.spark.sql.types.StringType, nullable = true)))

  /** Repartition so each partition carries ~targetBytes of blob data:
    * the PARTITION COUNT is derived from total bytes (a 4K-video table
    * and a thumbnail table of equal row count differ by 10^4 in
    * weight), and rows are spread round-robin, which balances bytes in
    * expectation. Rows are not bin-packed individually — a partition
    * that randomly draws several giant blobs can still run heavy; for
    * hard per-row ceilings, split oversized blobs upstream. One cheap
    * agg + one shuffle. */
  def repartitionBySize(df: DataFrame, bytesCol: String, targetBytes: Long): DataFrame = {
    val row = df.agg(sum(length(col(bytesCol)))).collect()(0)
    val total = if (row.isNullAt(0)) 0L else row.getLong(0) // empty frame sums to null
    val parts = math.max(1L, math.min(200000L, (total + targetBytes - 1) / targetBytes)).toInt
    df.repartition(parts)
  }

  /** Decode + embed images in partition-local batches: 1 row in → 1
    * typed record out; corrupt blobs throw (route them via the poison
    * middleware upstream if the feed is dirty). */
  def imageFeatures(df: DataFrame, idCol: String = "media_id",
      bytesCol: String = "bytes", gridDim: Int = 4,
      batchSize: Int = 32): Dataset[ImageRecord] = {
    val idc = idCol; val bc = bytesCol
    df.select(col(idc).cast("long"), col(bc))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch => // explicit batch shape
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            val px = MediaCodec.decodeImage(bytes) // STUB boundary
            ImageRecord(id, px.width, px.height, px.channels,
              bytes.length.toLong, MediaCodec.gridMeanPool(px, gridDim))
          }
        }
      }(Encoders.product[ImageRecord])
  }

  /** Decode + resize + embed: the resize-then-embed variant. */
  def imageFeaturesResized(df: DataFrame, newW: Int, newH: Int,
      idCol: String = "media_id", bytesCol: String = "bytes",
      gridDim: Int = 4, batchSize: Int = 32): Dataset[ImageRecord] = {
    df.select(col(idCol).cast("long"), col(bytesCol))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val bytes = r.getAs[Array[Byte]](1)
            val px = MediaCodec.resizeNearest(MediaCodec.decodeImage(bytes), newW, newH)
            ImageRecord(r.getLong(0), px.width, px.height, px.channels,
              bytes.length.toLong, MediaCodec.gridMeanPool(px, gridDim))
          }
        }
      }(Encoders.product[ImageRecord])
  }

  /** Decode + perceptual-hash images: 64-bit aHash + dHash per blob.
    * The image analogue of the text SimHash scan — 16 bytes of
    * fingerprint per image, computed in one decode pass. */
  def imageHashes(df: DataFrame, idCol: String = "media_id",
      bytesCol: String = "bytes", batchSize: Int = 32): Dataset[ImageHashRecord] =
    df.select(col(idCol).cast("long"), col(bytesCol))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val px = MediaCodec.decodeImage(r.getAs[Array[Byte]](1))
            ImageHashRecord(r.getLong(0), MediaCodec.aHash64(px), MediaCodec.dHash64(px))
          }
        }
      }(Encoders.product[ImageHashRecord])

  /** Near-duplicate image pairs: dHash banding for candidates
    * ([[graft.functions.DedupFunctions.hammingCandidates]] — exact
    * recall at `maxHamming` by pigeonhole), then exact Hamming verify
    * (`bit_count(xor)`). The hash relation is persisted: candidates
    * and both verify sides read it, and re-decoding every blob per
    * reference would triple the only expensive stage. Returns
    * (d1, d2, hamming) with d1 < d2 — feed to
    * [[graft.functions.DedupFunctions.dupClusters]] for canonical
    * keepers, exactly like the text near-dup pipeline. */
  def imageNearDups(df: DataFrame, idCol: String = "media_id",
      bytesCol: String = "bytes", maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    // eager materialization, NOT persist: three consumers (candidates
    // + both verify-join sides) would re-decode every image per plan
    // reference, and a persist here leaked a cached relation per call
    // for the application lifetime (localCheckpoint blocks are
    // GC-reclaimed once the returned frame is unreferenced)
    val h = imageHashes(df, idCol, bytesCol).toDF().localCheckpoint(true)
    val cand = graft.functions.DedupFunctions
      .hammingCandidates(h, "media_id", "dhash", maxHamming, maxBucket)
    val h1 = h.select(col("media_id").as("d1"), col("dhash").as("h1"))
    val h2 = h.select(col("media_id").as("d2"), col("dhash").as("h2"))
    cand.join(h1, Seq("d1")).join(h2, Seq("d2"))
      .withColumn("hamming", expr("bit_count(h1 ^ h2)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Audio → windowed RMS energy features. */
  def audioFeatures(df: DataFrame, windows: Int = 16,
      idCol: String = "media_id", bytesCol: String = "bytes",
      batchSize: Int = 32): Dataset[AudioRecord] =
    df.select(col(idCol).cast("long"), col(bytesCol))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val (rate, samples) = MediaCodec.decodeAudio(r.getAs[Array[Byte]](1))
            AudioRecord(r.getLong(0), rate, samples.length,
              MediaCodec.rmsEnergy(samples, windows))
          }
        }
      }(Encoders.product[AudioRecord])

  /** Video frame sampling: 1 video row → N frame rows (every
    * `everyMs`), each decoded + embedded. The 1→N explode happens
    * executor-side inside the iterator — frames of one video never
    * gather anywhere. */
  def sampleFrames(df: DataFrame, everyMs: Long,
      idCol: String = "media_id", bytesCol: String = "bytes",
      gridDim: Int = 4): Dataset[FrameRecord] =
    df.select(col(idCol).cast("long"), col(bytesCol))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val (fps, offsets) = MediaCodec.videoFrameOffsets(bytes) // STUB boundary
          // fps is UNTRUSTED container metadata: clamp to [1, 1000] —
          // fps > 1000 makes 1000L/fps truncate to frameMs = 0 and the
          // stride division throw / by zero on the first row
          val safeFps = math.min(1000L, math.max(1L, fps.toLong))
          val frameMs = 1000L / safeFps
          val stride = math.max(1, (everyMs / frameMs).toInt)
          offsets.zipWithIndex.iterator
            .filter { case (_, i) => i % stride == 0 }
            .map { case ((pos, len), i) =>
              val frame = java.util.Arrays.copyOfRange(bytes, pos, pos + len)
              val px = MediaCodec.decodeImage(frame)
              FrameRecord(id, i, i * frameMs, px.width, px.height,
                MediaCodec.gridMeanPool(px, gridDim))
            }
        }
      }(Encoders.product[FrameRecord])
}
