package graft.operators

/** Real, dependency-free image codec for the multimodal path: 24-bit
  * uncompressed BMP (BITMAPINFOHEADER) decode / encode, pure JVM —
  * plus REAL JPEG decode/encode through the
  * JDK's built-in `javax.imageio` plugin (ships in every JRE, zero
  * added dependencies), which also powers [[VideoCodec]]'s
  * MJPEG-in-AVI frame decode. This de-stubs the image leg of the
  * multimodal pipeline for both the uncompressed and the one
  * JDK-native compressed format.
  *
  * Executor-local by construction — byte array in, byte array out, no
  * driver involvement, so it runs unchanged inside `mapPartitions` at
  * any scale. ImageIO decode needs no display (headless-safe).
  */
object ImageCodec {

  /** Decoded raster: BGR byte triples, row-major, top-down. */
  final case class Image(width: Int, height: Int, pixels: Array[Byte]) {
    require(pixels.length == width * height * 3,
      s"raster size ${pixels.length} != $width x $height x 3")
    /** (blue, green, red) at (x, y), each 0-255. */
    def bgr(x: Int, y: Int): (Int, Int, Int) = {
      val i = (y * width + x) * 3
      (pixels(i) & 0xff, pixels(i + 1) & 0xff, pixels(i + 2) & 0xff)
    }
  }

  /** Cheap sniff: BMP magic + room for the 54-byte header pair. */
  def isBmp(b: Array[Byte]): Boolean =
    b.length > 54 && b(0) == 'B'.toByte && b(1) == 'M'.toByte

  private def readI32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def readI16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def writeI32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
    b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
  }

  private def writeI16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
  }

  private def rowStride(width: Int): Int = ((width * 3) + 3) / 4 * 4

  /** Decodes a 24bpp uncompressed BMP (positive height = bottom-up rows,
    * negative = top-down; both normalized to top-down).
    */
  def decode(b: Array[Byte]): Image = {
    require(isBmp(b), "not a BMP payload (missing 'BM' magic)")
    val pixelOffset = readI32(b, 10)
    val headerSize = readI32(b, 14)
    require(headerSize >= 40, s"unsupported BMP header size $headerSize")
    val width = readI32(b, 18)
    val rawHeight = readI32(b, 22)
    val bpp = readI16(b, 28)
    val compression = readI32(b, 30)
    require(bpp == 24, s"only 24bpp BMP supported, got $bpp")
    require(compression == 0, s"only uncompressed BMP supported, got $compression")
    require(width > 0 && rawHeight != 0, s"bad dimensions ${width}x$rawHeight")
    val height = math.abs(rawHeight)
    val bottomUp = rawHeight > 0
    val stride = rowStride(width)
    require(b.length >= pixelOffset + stride * height,
      s"truncated BMP: need ${pixelOffset + stride * height} bytes, have ${b.length}")
    val out = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      val srcRow = if (bottomUp) height - 1 - y else y
      System.arraycopy(b, pixelOffset + srcRow * stride, out, y * width * 3, width * 3)
      y += 1
    }
    Image(width, height, out)
  }

  /** Encodes to a bottom-up 24bpp uncompressed BMP. */
  def encode(img: Image): Array[Byte] = {
    val stride = rowStride(img.width)
    val dataSize = stride * img.height
    val b = new Array[Byte](54 + dataSize)
    b(0) = 'B'.toByte; b(1) = 'M'.toByte
    writeI32(b, 2, b.length)     // file size
    writeI32(b, 10, 54)          // pixel data offset
    writeI32(b, 14, 40)          // BITMAPINFOHEADER size
    writeI32(b, 18, img.width)
    writeI32(b, 22, img.height)  // positive: bottom-up
    writeI16(b, 26, 1)           // planes
    writeI16(b, 28, 24)          // bpp
    writeI32(b, 30, 0)           // BI_RGB
    writeI32(b, 34, dataSize)
    var y = 0
    while (y < img.height) {
      val dstRow = img.height - 1 - y
      System.arraycopy(img.pixels, y * img.width * 3, b, 54 + dstRow * stride, img.width * 3)
      y += 1
    }
    b
  }

  /** Nearest-neighbor resample (the aHash downscale — deterministic,
    * O(outputPixels), no intermediate allocation beyond the raster).
    */
  def resize(img: Image, targetW: Int, targetH: Int): Image = {
    require(targetW > 0 && targetH > 0, s"bad target ${targetW}x$targetH")
    val out = new Array[Byte](targetW * targetH * 3)
    var y = 0
    while (y < targetH) {
      val srcY = (y.toLong * img.height / targetH).toInt
      var x = 0
      while (x < targetW) {
        val srcX = (x.toLong * img.width / targetW).toInt
        val si = (srcY * img.width + srcX) * 3
        val di = (y * targetW + x) * 3
        out(di) = img.pixels(si); out(di + 1) = img.pixels(si + 1)
        out(di + 2) = img.pixels(si + 2)
        x += 1
      }
      y += 1
    }
    Image(targetW, targetH, out)
  }

  // ---- JPEG via the JDK's ImageIO plugin ---------------------------------

  /** Cheap sniff: JPEG SOI marker (FF D8 FF). */
  def isJpeg(b: Array[Byte]): Boolean =
    b.length > 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff

  /** Decodes a JPEG payload to the same top-down BGR raster [[decode]]
    * produces, via the JDK's baseline-JPEG reader. Deterministic for a
    * given payload (one fixed decoder, integer IDCT path); throws on
    * undecodable bytes so the Spark stages can skip the payload
    * instead of failing the task.
    */
  def decodeJpeg(b: Array[Byte]): Image = {
    // per-THREAD reader reuse + no disk-backed stream cache (ImageIO's
    // default spools every stream through a temp FILE — a syscall tax
    // per payload that dwarfs decoding a small raster)
    javax.imageio.ImageIO.setUseCache(false)
    val reader = jpegReader.get()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b))
    val bi = try {
      reader.setInput(iis)
      reader.read(0)
    } finally iis.close()
    require(bi != null, "ImageIO could not decode JPEG payload")
    val w = bi.getWidth
    val h = bi.getHeight
    require(w > 0 && h > 0, s"bad JPEG dimensions ${w}x$h")
    val out = new Array[Byte](w * h * 3)
    // one bulk ARGB pull, not per-pixel getRGB calls
    val argb = bi.getRGB(0, 0, w, h, null, 0, w)
    var i = 0
    while (i < w * h) {
      val p = argb(i)
      out(i * 3) = (p & 0xff).toByte            // B
      out(i * 3 + 1) = ((p >> 8) & 0xff).toByte // G
      out(i * 3 + 2) = ((p >> 16) & 0xff).toByte // R
      i += 1
    }
    Image(w, h, out)
  }

  /** Encodes the raster as a JPEG via the JDK writer. `quality` in
    * (0, 1]; the 0.9 default keeps enough high-frequency content that
    * perceptual hashes of small rasters stay discriminative (the
    * writer's own default quantizes an 8×8 block down to little more
    * than its DC term).
    */
  def encodeJpeg(img: Image, quality: Float = 0.9f): Array[Byte] = {
    require(quality > 0f && quality <= 1f, s"bad JPEG quality $quality")
    val bi = new java.awt.image.BufferedImage(img.width, img.height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val argb = new Array[Int](img.width * img.height)
    var i = 0
    while (i < argb.length) {
      argb(i) = ((img.pixels(i * 3 + 2) & 0xff) << 16) |
        ((img.pixels(i * 3 + 1) & 0xff) << 8) | (img.pixels(i * 3) & 0xff)
      i += 1
    }
    bi.setRGB(0, 0, img.width, img.height, argb, 0, img.width)
    // per-THREAD writer reuse: ImageWriter lookup + dispose per call
    // costs more than encoding a small raster, and a 100 TB media batch
    // is millions of calls per executor; ImageWriter instances are not
    // shared across threads, so a ThreadLocal is the safe reuse scope
    val writer = jpegWriter.get()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
    } finally { ios.close() }
    bos.toByteArray
  }

  private val jpegWriter =
    new ThreadLocal[javax.imageio.ImageWriter] {
      override def initialValue(): javax.imageio.ImageWriter = {
        javax.imageio.ImageIO.setUseCache(false)
        val ws = javax.imageio.ImageIO.getImageWritersByFormatName("jpg")
        require(ws.hasNext, "JDK has no JPEG writer registered")
        ws.next()
      }
    }

  private val jpegReader =
    new ThreadLocal[javax.imageio.ImageReader] {
      override def initialValue(): javax.imageio.ImageReader = {
        val rs = javax.imageio.ImageIO.getImageReadersByFormatName("jpg")
        require(rs.hasNext, "JDK has no JPEG reader registered")
        rs.next()
      }
    }

  /** Format-sniffing decode: BMP through the native parser, JPEG
    * through ImageIO; anything else throws (callers emit no print).
    */
  def decodeAny(bytes: Array[Byte]): Image =
    if (isBmp(bytes)) decode(bytes)
    else if (isJpeg(bytes)) decodeJpeg(bytes)
    else if (isPng(bytes)) decodePng(bytes)
    else sys.error("payload is not BMP, JPEG, or PNG")

  // ---- PNG via the JDK's ImageIO plugin (round 15) ------------------------
  // The most common web image format the pipeline would actually
  // ingest, through the same zero-dependency ImageIO door as JPEG:
  // per-thread reader/writer reuse, no disk-backed stream cache, one
  // bulk ARGB pull. PNG is lossless, so decode(encode(img)) == img
  // exactly (InvariantProps pins the round-trip) — unlike the JPEG
  // twin, whose quality knob PNG has no equivalent of.

  /** Cheap sniff: the 8-byte PNG signature. */
  def isPng(b: Array[Byte]): Boolean =
    b.length > 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P'.toByte &&
      b(2) == 'N'.toByte && b(3) == 'G'.toByte && (b(4) & 0xff) == 0x0d &&
      (b(5) & 0xff) == 0x0a && (b(6) & 0xff) == 0x1a && (b(7) & 0xff) == 0x0a

  /** Decodes a PNG payload to the same top-down BGR raster [[decode]]
    * produces (alpha dropped — the dedup rasters are opaque). Throws
    * on undecodable bytes so Spark stages skip the payload.
    */
  def decodePng(b: Array[Byte]): Image = {
    javax.imageio.ImageIO.setUseCache(false)
    val reader = pngReader.get()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b))
    val bi = try {
      reader.setInput(iis)
      reader.read(0)
    } finally iis.close()
    require(bi != null, "ImageIO could not decode PNG payload")
    val w = bi.getWidth
    val h = bi.getHeight
    require(w > 0 && h > 0, s"bad PNG dimensions ${w}x$h")
    val out = new Array[Byte](w * h * 3)
    val argb = bi.getRGB(0, 0, w, h, null, 0, w)
    var i = 0
    while (i < w * h) {
      val p = argb(i)
      out(i * 3) = (p & 0xff).toByte            // B
      out(i * 3 + 1) = ((p >> 8) & 0xff).toByte // G
      out(i * 3 + 2) = ((p >> 16) & 0xff).toByte // R
      i += 1
    }
    Image(w, h, out)
  }

  /** Encodes the raster as a PNG via the JDK writer (lossless). */
  def encodePng(img: Image): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(img.width, img.height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val argb = new Array[Int](img.width * img.height)
    var i = 0
    while (i < argb.length) {
      argb(i) = ((img.pixels(i * 3 + 2) & 0xff) << 16) |
        ((img.pixels(i * 3 + 1) & 0xff) << 8) | (img.pixels(i * 3) & 0xff)
      i += 1
    }
    bi.setRGB(0, 0, img.width, img.height, argb, 0, img.width)
    val writer = pngWriter.get()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), null)
    } finally { ios.close() }
    bos.toByteArray
  }

  private val pngWriter =
    new ThreadLocal[javax.imageio.ImageWriter] {
      override def initialValue(): javax.imageio.ImageWriter = {
        javax.imageio.ImageIO.setUseCache(false)
        val ws = javax.imageio.ImageIO.getImageWritersByFormatName("png")
        require(ws.hasNext, "JDK has no PNG writer registered")
        ws.next()
      }
    }

  private val pngReader =
    new ThreadLocal[javax.imageio.ImageReader] {
      override def initialValue(): javax.imageio.ImageReader = {
        val rs = javax.imageio.ImageIO.getImageReadersByFormatName("png")
        require(rs.hasNext, "JDK has no PNG reader registered")
        rs.next()
      }
    }

  /** Average-hash (aHash) perceptual fingerprint: decode, nearest-
    * neighbor resample to 8×8, integer grayscale (b+g+r per pixel —
    * no float weights), then bit i set iff pixel i is strictly
    * brighter than the mean. INTEGER-ONLY end to end: the mean compare
    * is `gray * 64 > total` (exact — no division rounding), so two
    * JVMs, or a reimplementation in any language, produce identical
    * hashes. Near-identical images differ in few bits; hamming
    * distance over these 64 bits is the image twin of q49's SimHash
    * distance, and the same banded index dedups them at scale
    * ([[Dedup.bandedHammingPairs]]).
    */
  def aHash(bytes: Array[Byte]): Long =
    // format-sniffing: BMP payloads keep their exact historical hash
    // (native parser path unchanged); JPEG payloads now hash for real
    aHashImage(decodeAny(bytes))

  /** [[aHash]] over an already-decoded raster — the entry point for
    * callers that hold pixels rather than encoded bytes (video
    * keyframes from [[VideoCodec.frameImage]]).
    */
  def aHashImage(raster: Image): Long = {
    val img = resize(raster, 8, 8)
    val gray = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < 64) {
      val p = i * 3
      gray(i) = (img.pixels(p) & 0xff).toLong + (img.pixels(p + 1) & 0xff) +
        (img.pixels(p + 2) & 0xff)
      total += gray(i)
      i += 1
    }
    var h = 0L
    i = 0
    while (i < 64) {
      if (gray(i) * 64L > total) h |= (1L << i)
      i += 1
    }
    h
  }
}
