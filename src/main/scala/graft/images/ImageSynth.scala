package graft.images

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{ImageIO, ImageWriteParam, IIOImage}
import graft.core.{Hashing, UrlUtil}

/** Deterministic image+caption payload synthesis and verification — the
  * input_hint table `(image_id, bytes, w, h, fmt, caption, phash)`.
  * One row per crawlable URL; image_id = the URL fingerprint, so the
  * "fetch" of a URL is an equi-join against this table.
  *
  * Pixels are a smooth deterministic RGB field seeded by murmur3 of the
  * canonical URL; `fmt` alternates png (lossless — exact pixel check) and
  * jpeg q=0.97 (lossy — PSNR ≥ 40 dB check, min ≈40.9 dB over seeds) by host-crc32 parity, which
  * exercises both verification paths of the per-row invariant. */
object ImageSynth {

  // ImageIO's default file-backed stream cache serializes every encode/
  // decode through temp-file IO — with 32 executor threads it inverts
  // scaling. Memory-cached streams keep the codecs CPU-bound.
  javax.imageio.ImageIO.setUseCache(false)

  // codecs are cached per thread: ImageIO.read/write scan the service
  // registry on EVERY call (a shared structure — measurable contention
  // at 32 threads); readers/writers themselves are reusable per thread
  private val jpegWriterTL = ThreadLocal.withInitial[javax.imageio.ImageWriter](
    () => ImageIO.getImageWritersByFormatName("jpeg").next())
  private val jpegReaderTL = ThreadLocal.withInitial[javax.imageio.ImageReader](
    () => ImageIO.getImageReadersByFormatName("jpeg").next())
  private val pngReaderTL = ThreadLocal.withInitial[javax.imageio.ImageReader](
    () => ImageIO.getImageReadersByFormatName("png").next())

  final case class ImageRow(image_id: String, bytes: Array[Byte], w: Int,
      h: Int, fmt: String, caption: String, phash: Long)

  /** Reused per-thread scratch (the fetch+verify stage runs per row on
    * every executor core: fresh 16KB arrays per call put ~100KB/url of
    * allocation churn on the heap, and at 32 cores the resulting GC +
    * memory-bandwidth pressure inverts thread scaling). */
  private final class Scratch {
    var px: Array[Int] = new Array[Int](0)
    var px2: Array[Int] = new Array[Int](0)
    var bb: Array[Byte] = new Array[Byte](0)
    var bb2: Array[Byte] = new Array[Byte](0)
    def bbuf(n: Int): Array[Byte] = {
      if (bb.length < n) bb = new Array[Byte](n); bb
    }
    def bbuf2(n: Int): Array[Byte] = {
      if (bb2.length < n) bb2 = new Array[Byte](n); bb2
    }
    var d1: Array[Double] = new Array[Double](0)
    var d2: Array[Double] = new Array[Double](0)
    var d3: Array[Double] = new Array[Double](0)
    var d4: Array[Double] = new Array[Double](0)
    var img: BufferedImage = null
    val bos = new ByteArrayOutputStream(32 * 1024)
    def buf1(n: Int): Array[Int] = {
      if (px.length < n) px = new Array[Int](n); px
    }
    def buf2(n: Int): Array[Int] = {
      if (px2.length < n) px2 = new Array[Int](n); px2
    }
    def dbuf1(n: Int): Array[Double] = {
      if (d1.length < n) d1 = new Array[Double](n); d1
    }
    def dbuf2(n: Int): Array[Double] = {
      if (d2.length < n) d2 = new Array[Double](n); d2
    }
    def dbuf3(n: Int): Array[Double] = {
      if (d3.length < n) d3 = new Array[Double](n); d3
    }
    def dbuf4(n: Int): Array[Double] = {
      if (d4.length < n) d4 = new Array[Double](n); d4
    }
    def image(w: Int, h: Int): BufferedImage = {
      if (img == null || img.getWidth != w || img.getHeight != h)
        img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      img
    }
    /** decode destination (TYPE_3BYTE_BGR — both codecs' natural layout
      * for RGB content): a fresh 12 KB raster per decode was ~750 MB/s
      * of allocation churn at full kernel rate, and GC is the shared
      * resource that caps thread scaling. Readers write every pixel of
      * a full-frame read, so reuse cannot leak stale content. */
    var dimg: BufferedImage = null
    def decodeImage(w: Int, h: Int): BufferedImage = {
      if (dimg == null || dimg.getWidth != w || dimg.getHeight != h)
        dimg = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      dimg
    }
  }

  /** Minimal seekable ImageInputStream over a byte array — replaces
    * MemoryCacheImageInputStream, whose block cache re-allocates per
    * decode (the payload is already fully in memory; caching a copy of
    * it is pure garbage). */
  private final class ByteArrayImageInputStream(buf: Array[Byte])
      extends javax.imageio.stream.ImageInputStreamImpl {
    override def read(): Int = {
      if (streamPos >= buf.length) -1
      else { bitOffset = 0; val b = buf(streamPos.toInt) & 0xff; streamPos += 1; b }
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (streamPos >= buf.length) -1
      else {
        bitOffset = 0
        val n = math.min(len, buf.length - streamPos.toInt)
        System.arraycopy(buf, streamPos.toInt, b, off, n)
        streamPos += n
        n
      }
    }
    override def length(): Long = buf.length.toLong
    override def isCached: Boolean = true
    override def isCachedMemory: Boolean = true
  }

  /** Growable, reusable ImageOutputStream over a byte array — replaces
    * MemoryCacheImageOutputStream + ByteArrayOutputStream, whose cache
    * blocks re-allocate per encode. JPEG writers only stream forward
    * (with small in-buffer seeks for length patch-ups), so a flat array
    * suffices; `reset()` + `toByteArray` bound one encode. */
  private final class ByteArrayImageOutputStream
      extends javax.imageio.stream.ImageOutputStreamImpl {
    private var buf = new Array[Byte](32 * 1024)
    private var end = 0 // high-water mark = logical length
    def clear(): Unit = { streamPos = 0; bitOffset = 0; end = 0; flushedPos = 0 }
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, end)
    private def ensure(n: Int): Unit =
      if (n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(n, buf.length * 2))
    override def write(b: Int): Unit = {
      flushBits() // commit any pending partial bit-write (superclass contract)
      ensure(streamPos.toInt + 1)
      buf(streamPos.toInt) = b.toByte
      streamPos += 1
      if (streamPos > end) end = streamPos.toInt
    }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      flushBits()
      ensure(streamPos.toInt + len)
      System.arraycopy(b, off, buf, streamPos.toInt, len)
      streamPos += len
      if (streamPos > end) end = streamPos.toInt
    }
    override def read(): Int =
      if (streamPos >= end) -1
      else { bitOffset = 0; val v = buf(streamPos.toInt) & 0xff; streamPos += 1; v }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (streamPos >= end) -1
      else {
        bitOffset = 0
        val n = math.min(len, end - streamPos.toInt)
        System.arraycopy(buf, streamPos.toInt, b, off, n)
        streamPos += n
        n
      }
    override def length(): Long = end.toLong
    override def isCached: Boolean = true
    override def isCachedMemory: Boolean = true
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)
  /** the length of this thread's raw-byte scratch buffer */
  private[images] def scratchBytes: Int = scratch.get().bb.length

  def seedOf(url: String): Long =
    Hashing.murmur128(UrlUtil.canonicalize(url).getBytes("UTF-8"), 42)._1

  /** Smooth pseudo-random RGB pixel field (JPEG-friendly: low-frequency,
    * so q=0.97 stays above 40 dB PSNR). */
  def pixels(url: String, w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    pixelsInto(url, w, h, out)
    out
  }

  private def pixelsInto(url: String, w: Int, h: Int, px: Array[Int]): Unit = {
    val seed = seedOf(url)
    // low spatial frequency (≤2 periods across the image) keeps q=0.95
    // JPEG comfortably above the 40 dB bar on every seed
    val fr = 2.0 * math.Pi * (1 + ((seed >>> 8) & 1))
    val p0 = (seed & 0xff).toDouble / 255.0
    val p1 = ((seed >>> 16) & 0xff).toDouble / 255.0
    val p2 = ((seed >>> 32) & 0xff).toDouble / 255.0
    // Every channel's argument is f(x) + g(y), so the trig separates by
    // the angle-addition identities: 6·(w+h) sin/cos evaluations per
    // image instead of 3·w·h — the fetch+verify hot path synthesizes
    // this field TWICE per URL, and the transcendental calls were ~30%
    // of the kernel (guide §1.2 "per-task work"). Pixel values can
    // differ from the direct formula only by FP rounding in the last
    // bit (≤1 int step at sin≈0 crossings); both sides of the payload
    // invariant (rowFor and verifyRow) share this function, and nothing
    // pins the absolute pixels — only round-trip consistency and the
    // ≥40 dB JPEG margin, which a ±1 pixel step cannot dent.
    val s = scratch.get()
    val xa = s.dbuf1(4 * w) // [sinA, cosA, sinU, cosU] per x, interleaved
    val ya = s.dbuf2(4 * h) // [sinV, cosV, sinB, cosB] per y, interleaved
    var x = 0
    while (x < w) {
      val u = x.toDouble / w
      val a = fr * (u + p0)       // r-channel x-part
      xa(4 * x) = math.sin(a)
      xa(4 * x + 1) = math.cos(a)
      xa(4 * x + 2) = math.sin(u) // g-channel x-part
      xa(4 * x + 3) = math.cos(u)
      x += 1
    }
    var y = 0
    while (y < h) {
      val v = y.toDouble / h
      val b = fr * (v + p1)       // g-channel y-part
      ya(4 * y) = math.sin(v)
      ya(4 * y + 1) = math.cos(v)
      ya(4 * y + 2) = math.sin(b)
      ya(4 * y + 3) = math.cos(b)
      y += 1
    }
    // b-channel: cos(fr*((u+v)/2 + p2)) = cos(fr*u/2 + fr*(v/2+p2))
    val bx = s.dbuf3(2 * w)
    val by = s.dbuf4(2 * h)
    x = 0
    while (x < w) {
      val a = fr * (x.toDouble / w) / 2
      bx(2 * x) = math.sin(a)
      bx(2 * x + 1) = math.cos(a)
      x += 1
    }
    y = 0
    while (y < h) {
      val b = fr * ((y.toDouble / h) / 2 + p2)
      by(2 * y) = math.sin(b)
      by(2 * y + 1) = math.cos(b)
      y += 1
    }
    y = 0
    while (y < h) {
      val sinV = ya(4 * y); val cosV = ya(4 * y + 1)
      val sinB = ya(4 * y + 2); val cosB = ya(4 * y + 3)
      val sinBy = by(2 * y); val cosBy = by(2 * y + 1)
      var i = y * w
      x = 0
      while (x < w) {
        // sin(A + v) = sinA·cosV + cosA·sinV
        val r = (127.5 * (1 + (xa(4 * x) * cosV + xa(4 * x + 1) * sinV))).toInt
        // sin(B + u) = sinB·cosU + cosB·sinU
        val g = (127.5 * (1 + (sinB * xa(4 * x + 3) + cosB * xa(4 * x + 2)))).toInt
        // cos(Ax + By) = cosAx·cosBy − sinAx·sinBy
        val b = (127.5 * (1 + (bx(2 * x + 1) * cosBy - bx(2 * x) * sinBy))).toInt
        px(i) = (r << 16) | (g << 8) | b
        x += 1
        i += 1
      }
      y += 1
    }
  }

  private def toImage(px: Array[Int], w: Int, h: Int): BufferedImage = {
    val img = scratch.get().image(w, h)
    // the scratch image is TYPE_INT_RGB, whose raster stores exactly the
    // 0xRRGGBB ints `pixels` produces — copy into the data buffer
    // directly instead of setRGB's per-pixel color-model round trip
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    System.arraycopy(px, 0, data, 0, w * h)
    img
  }

  /** Write one chunk: length, type, payload, CRC32 over type+payload. */
  private def pngChunk(out: java.io.ByteArrayOutputStream, typ: String,
      payload: Array[Byte], payloadLen: Int): Unit = {
    def be32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    be32(payloadLen)
    val t = typ.getBytes("US-ASCII")
    out.write(t)
    out.write(payload, 0, payloadLen)
    val crc = new java.util.zip.CRC32
    crc.update(t)
    crc.update(payload, 0, payloadLen)
    be32(crc.getValue.toInt)
  }

  /** Direct truecolor-PNG writer using STORED deflate blocks: the
    * sinusoid payload barely deflates anyway (11.7 KB compressed vs
    * 12.4 KB stored for 64×64), and ImageIO's PNG plugin constructs a
    * fresh JNI Deflater per image — at hot-path rates the encode was
    * ~180–400 µs of mostly deflate/alloc work for a 12 KB buffer. This
    * path is a row-prefix memcpy + CRC32/Adler32 (both JDK intrinsics),
    * ~10 µs, and emits a byte-valid lossless PNG any reader decodes
    * (ImageSpec decodes it through ImageIO). Nothing pins payload byte
    * identity — the invariant is pixel round-trip + caption. */
  def encodePng(px: Array[Int], w: Int, h: Int): Array[Byte] = {
    val s = scratch.get()
    val out = s.bos
    out.reset()
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    // IHDR: 8-bit truecolor (RGB), no interlace
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8; ihdr(9) = 2; ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0
    pngChunk(out, "IHDR", ihdr, 13)
    // raw scanlines: filter byte 0 + RGB triples per row
    val rowLen = 1 + 3 * w
    val rawLen = h * rowLen
    val raw = s.bbuf(rawLen)
    var y = 0
    var o = 0
    while (y < h) {
      raw(o) = 0 // filter: None
      o += 1
      var i = y * w
      val end = i + w
      while (i < end) {
        val p = px(i)
        raw(o) = ((p >> 16) & 0xff).toByte
        raw(o + 1) = ((p >> 8) & 0xff).toByte
        raw(o + 2) = (p & 0xff).toByte
        o += 3
        i += 1
      }
      y += 1
    }
    // IDAT: zlib wrapper around STORED deflate blocks (≤65535 each)
    val nBlocks = (rawLen + 65534) / 65535
    val idatLen = 2 + nBlocks * 5 + rawLen + 4
    val idat = s.bbuf2(idatLen)
    idat(0) = 0x78; idat(1) = 0x01 // zlib: deflate, 32K window, no dict
    var src = 0
    var d = 2
    while (src < rawLen) {
      val n = math.min(65535, rawLen - src)
      val fin = if (src + n >= rawLen) 1 else 0
      idat(d) = fin.toByte // BTYPE=00 stored
      idat(d + 1) = (n & 0xff).toByte
      idat(d + 2) = ((n >>> 8) & 0xff).toByte
      idat(d + 3) = (~n & 0xff).toByte
      idat(d + 4) = ((~n >>> 8) & 0xff).toByte
      System.arraycopy(raw, src, idat, d + 5, n)
      d += 5 + n
      src += n
    }
    val adler = new java.util.zip.Adler32
    adler.update(raw, 0, rawLen)
    val a = adler.getValue.toInt
    idat(d) = (a >>> 24).toByte; idat(d + 1) = (a >>> 16).toByte
    idat(d + 2) = (a >>> 8).toByte; idat(d + 3) = a.toByte
    pngChunk(out, "IDAT", idat, idatLen)
    pngChunk(out, "IEND", Array.emptyByteArray, 0)
    out.toByteArray
  }

  // write param + output stream are reusable per thread (fresh ones per
  // call were measurable allocation churn at hot-path rates)
  private val jpegParamTL = ThreadLocal.withInitial[ImageWriteParam](() => {
    val p = jpegWriterTL.get().getDefaultWriteParam
    p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    p
  })
  private val jpegOutTL = ThreadLocal.withInitial[ByteArrayImageOutputStream](
    () => new ByteArrayImageOutputStream)

  def encodeJpeg(px: Array[Int], w: Int, h: Int, quality: Float = 0.97f): Array[Byte] = {
    val writer = jpegWriterTL.get()
    val param = jpegParamTL.get()
    param.setCompressionQuality(quality)
    val ios = jpegOutTL.get()
    ios.clear()
    writer.setOutput(ios)
    writer.write(null, new IIOImage(toImage(px, w, h), null, null), param)
    writer.setOutput(null)
    ios.toByteArray
  }

  /** 64-bit average-hash over an 8×8 grayscale downsample of the pixel
    * field — the `phash` column (perceptual-hash-like, stable per URL). */
  def phash(px: Array[Int], w: Int, h: Int): Long = {
    val gray = new Array[Double](64)
    var i = 0
    while (i < 64) {
      val gx = i % 8
      val gy = i / 8
      // average the cell
      var sum = 0.0
      var n = 0
      var y = gy * h / 8
      while (y < (gy + 1) * h / 8) {
        var x = gx * w / 8
        while (x < (gx + 1) * w / 8) {
          val p = px(y * w + x)
          sum += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff)
          n += 1
          x += 1
        }
        y += 1
      }
      gray(i) = if (n > 0) sum / n else 0.0
      i += 1
    }
    val mean = gray.sum / 64
    var bits = 0L
    i = 0
    while (i < 64) {
      if (gray(i) >= mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  def caption(url: String, depth: Int): String = {
    val host = UrlUtil.slotKey(url)
    val path = UrlUtil.urlparse(url).path
    f"$host page $path depth $depth :: ${seedOf(url)}%016x"
  }

  /** Synthesize the full row for a URL. */
  def rowFor(url: String, depth: Int, w: Int = 64, h: Int = 64): ImageRow = {
    val px = scratch.get().buf1(w * h)
    pixelsInto(url, w, h, px)
    val host = UrlUtil.slotKey(url)
    val isPng = (Hashing.signedCrc32(host) & 1) == 0
    val bytes = if (isPng) encodePng(px, w, h) else encodeJpeg(px, w, h)
    ImageRow(Hashing.urlFingerprint(url), bytes, w, h,
      if (isPng) "png" else "jpeg", caption(url, depth), phash(px, w, h))
  }

  // ---- verification (the per-row invariant of the north rule) ----

  /** Fast path for the stored-deflate truecolor PNGs `encodePng` emits:
    * zlib STORED blocks with filter 0 on every row parse with two
    * memcpy-grade loops (no Inflater JNI round trip). Any other PNG
    * (compressed deflate, other color types, nonzero filters — e.g. the
    * driver's parquet-fixture payloads) returns null and takes the
    * ImageIO path. */
  private[images] def decodeStoredPng(bytes: Array[Byte]): BufferedImage = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    if (bytes.length < 45 || be32(8) != 13 || be32(12) != 0x49484452) return null
    val w = be32(16)
    val h = be32(20)
    // bit depth 8, color type 2 (truecolor), no interlace
    if (u8(24) != 8 || u8(25) != 2 || u8(28) != 0) return null
    // the raw rows, sized in Long (a hostile IHDR overflows Int): they
    // must fit in the bytes after IHDR, or the file is not ours, and the
    // scratch buffer is not grown for it
    val rawSize = h.toLong * (1L + 3L * w)
    if (w <= 0 || h <= 0 || rawSize > bytes.length - 33) return null
    val rowLen = 1 + 3 * w
    val rawLen = rawSize.toInt
    val raw = scratch.get().bbuf(rawLen)
    // walk chunks; concatenate IDAT payloads' stored blocks into raw
    var pos = 33 // after IHDR chunk
    var rawPos = 0
    var zlibHeaderSeen = false
    var blockRemaining = 0 // bytes left in the current stored block
    var done = false
    while (!done && pos + 8 <= bytes.length) {
      val len = be32(pos)
      val typ = be32(pos + 4)
      val dataStart = pos + 8
      // a hostile length must fail here: a negative one would move `pos`
      // back or nowhere (an endless walk), an overlong one (payload + CRC
      // past the end) would step outside the file
      if (len < 0 || dataStart.toLong + len + 4 > bytes.length) return null
      if (typ == 0x49454E44) { // IEND
        done = true
      } else if (typ == 0x49444154) { // IDAT
        var i = dataStart
        val end = dataStart + len
        if (!zlibHeaderSeen) {
          if (len < 2 || u8(i) != 0x78) return null
          i += 2
          zlibHeaderSeen = true
        }
        while (i < end && rawPos < rawLen) {
          if (blockRemaining == 0) {
            // stored-block header must fit in this chunk (ours does)
            if (i + 5 > end) return null
            if ((u8(i) & 0x06) != 0) return null // BTYPE must be 00
            blockRemaining = u8(i + 1) | (u8(i + 2) << 8)
            i += 5
          }
          val n = math.min(blockRemaining, math.min(end - i, rawLen - rawPos))
          System.arraycopy(bytes, i, raw, rawPos, n)
          i += n
          rawPos += n
          blockRemaining -= n
        }
      } else if (typ == 0x49484452) {
        return null // second IHDR — malformed
      }
      pos = dataStart + len + 4 // skip payload + CRC
    }
    if (rawPos != rawLen) return null
    // un-filter (must be filter 0 per row) into the BGR raster
    val img = scratch.get().decodeImage(w, h)
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    var y = 0
    while (y < h) {
      val ro = y * rowLen
      if (raw(ro) != 0) return null // a filtered row — not ours
      var x = 0
      var s = ro + 1
      var d = y * w * 3
      while (x < w) {
        data(d) = raw(s + 2)     // B
        data(d + 1) = raw(s + 1) // G
        data(d + 2) = raw(s)     // R
        s += 3
        d += 3
        x += 1
      }
      y += 1
    }
    img
  }

  def decode(bytes: Array[Byte]): BufferedImage = {
    // sniff the magic bytes instead of a per-call registry scan
    val isPng = bytes.length > 1 && (bytes(0) & 0xff) == 0x89
    if (isPng) {
      val fast = decodeStoredPng(bytes)
      if (fast != null) return fast
    }
    val reader = (if (isPng) pngReaderTL else jpegReaderTL).get()
    val iis = new ByteArrayImageInputStream(bytes)
    try {
      reader.setInput(iis, true, true)
      // decode 8-bit 3-band frames (the hot path is all 64x64 RGB) into
      // the reused thread-local BGR raster — the per-decode BufferedImage
      // allocation was the kernel's biggest GC source; grayscale, alpha
      // and palette frames have other band counts and decode as they are
      val raw = reader.getRawImageType(0)
      if (raw == null || raw.getNumBands != 3 ||
          raw.getSampleModel.getDataType != java.awt.image.DataBuffer.TYPE_BYTE)
        reader.read(0)
      else {
        val param = reader.getDefaultReadParam
        param.setDestination(scratch.get().decodeImage(reader.getWidth(0), reader.getHeight(0)))
        reader.read(0, param)
      }
    } finally iis.close()
  }

  /** PSNR between reference pixels and a decoded image, in dB. */
  def psnr(ref: Array[Int], img: BufferedImage): Double = {
    val w = img.getWidth
    val h = img.getHeight
    val n = w * h // ref may be an oversized reused buffer
    var se = 0L // channel diffs are ints ≤255: exact in long, no FP adds
    // decoded PNGs/JPEGs arrive as TYPE_3BYTE_BGR — read the raster
    // bytes directly; getRGB's per-pixel color-model conversion was the
    // bulk of the verify-side cost after decode. The byte order is
    // b,g,r per pixel; the arithmetic is identical to the generic path.
    if (img.getType == BufferedImage.TYPE_3BYTE_BGR) {
      val data = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData
      var i = 0
      while (i < n) {
        val p = ref(i)
        val db = (p & 0xff) - (data(3 * i) & 0xff)
        val dg = ((p >> 8) & 0xff) - (data(3 * i + 1) & 0xff)
        val dr = ((p >> 16) & 0xff) - (data(3 * i + 2) & 0xff)
        se += db * db + dg * dg + dr * dr
        i += 1
      }
    } else {
      val got = img.getRGB(0, 0, w, h, scratch.get().buf2(w * h), 0, w)
      var i = 0
      while (i < n) {
        var c = 0
        while (c < 3) {
          val d = ((ref(i) >> (8 * c)) & 0xff) - ((got(i) >> (8 * c)) & 0xff)
          se += d * d
          c += 1
        }
        i += 1
      }
    }
    val mse = se.toDouble / (n * 3)
    if (mse == 0) Double.PositiveInfinity
    else 10 * math.log10(255.0 * 255.0 / mse)
  }

  /** The invariant: lossless ⇒ exact pixels; lossy ⇒ PSNR ≥ 40 dB;
    * caption must match exactly. */
  def verifyRow(url: String, depth: Int, row: ImageRow): Boolean = {
    val ref = scratch.get().buf1(row.w * row.h)
    pixelsInto(url, row.w, row.h, ref)
    val img = decode(row.bytes)
    val pixelOk =
      if (row.fmt == "png") psnr(ref, img).isPosInfinity
      else psnr(ref, img) >= 40.0
    pixelOk && row.caption == caption(url, depth)
  }
}
