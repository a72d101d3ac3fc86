package graft.operators

/** Real, dependency-free video codec for the multimodal path:
  * RIFF/AVI — the video sibling of [[AudioCodec]]'s RIFF/WAVE, same
  * container family — in two flavors, both decoded for real:
  *
  *   - uncompressed 24bpp DIB frames ('00db' chunks, BI_RGB), the
  *     zero-codec baseline;
  *   - MJPEG ('MJPG' fourcc, one JPEG per '00dc' chunk), the one
  *     COMPRESSED video format the bare JDK can decode — each frame
  *     goes through [[ImageCodec.decodeJpeg]] (javax.imageio, ships in
  *     every JRE) and lands in the same DIB frame layout, so frame
  *     sampling and fingerprinting downstream are format-blind.
  *
  * Decode / encode / mux, pure JVM. Codecs beyond MJPEG (H.264 etc.)
  * require native decoder libraries that do not ship in this
  * environment; [[decodeAuto]] throws on them.
  *
  * Executor-local by construction — byte array in, byte array out, no
  * driver involvement, so it runs unchanged inside `mapPartitions` at
  * any scale.
  */
object VideoCodec {

  /** Decoded clip: `nFrames` frames of width x height 24bpp BGR pixels,
    * bottom-up rows with 4-byte-aligned stride (the DIB layout, exactly
    * what a '00db' chunk carries).
    */
  final case class Video(width: Int, height: Int, microSecPerFrame: Int,
      frames: Vector[Array[Byte]]) {
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    def nFrames: Int = frames.length
    def fps: Int = if (microSecPerFrame > 0) 1000000 / microSecPerFrame else 0
  }

  /** DIB row stride: 3 bytes per pixel, rows padded to 4-byte multiples. */
  def stride(width: Int): Int = (width * 3 + 3) / 4 * 4

  /** Cheap sniff: RIFF container magic + 'AVI ' form type. */
  def isAvi(b: Array[Byte]): Boolean =
    b.length > 24 &&
      b(0) == 'R'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte && b(3) == 'F'.toByte &&
      b(8) == 'A'.toByte && b(9) == 'V'.toByte && b(10) == 'I'.toByte && b(11) == ' '.toByte

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

  private def tag(b: Array[Byte], off: Int): String =
    new String(Array(b(off), b(off + 1), b(off + 2), b(off + 3)), "US-ASCII")

  private def putTag(b: Array[Byte], off: Int, t: String): Unit =
    t.getBytes("US-ASCII").copyToArray(b, off)

  /** 'MJPG' fourcc as BITMAPINFOHEADER.biCompression reads it (LE). */
  val MjpgFourcc: Int = 0x47504a4d

  private final case class Parsed(width: Int, height: Int, usPerFrame: Int,
      declaredFrames: Int, bitCount: Int, compression: Int,
      frames: Vector[Array[Byte]])

  /** One bounds-checked RIFF walk shared by both AVI flavors: gathers
    * the 'avih' main header, the first 'strf' BITMAPINFOHEADER, and
    * every '00db'/'00dc' frame chunk inside LIST 'movi'. Extra chunks
    * (JUNK, idx1, vedt, odml) are skipped.
    */
  private def parse(b: Array[Byte]): Parsed = {
    require(isAvi(b), "not an AVI payload (missing RIFF/AVI magic)")
    var width = -1
    var height = -1
    var usPerFrame = 0
    var declaredFrames = -1
    var bitCount = -1
    var compression = -1
    val frames = Vector.newBuilder[Array[Byte]]

    def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
      var off = start
      while (off + 8 <= end) {
        val id = tag(b, off)
        val size = readI32(b, off + 4)
        // Long arithmetic: a corrupt size near Int.MaxValue would wrap
        // the Int sum negative, pass the bound check, and turn a clean
        // failure into a ~2 GB allocation downstream (the AudioCodec
        // lesson)
        require(size >= 0 && off.toLong + 8 + size <= end,
          s"truncated AVI: chunk '$id' claims $size bytes at offset $off of $end")
        id match {
          case "LIST" =>
            val listType = tag(b, off + 8)
            walk(off + 12, off + 8 + size, inMovi || listType == "movi")
          case "avih" =>
            require(size >= 40, s"avih chunk too small: $size")
            usPerFrame = readI32(b, off + 8)
            declaredFrames = readI32(b, off + 24)
            width = readI32(b, off + 40)
            height = readI32(b, off + 44)
            require(width > 0 && height > 0, s"bad avih dimensions ${width}x$height")
          case "strf" if bitCount < 0 && size >= 40 =>
            // BITMAPINFOHEADER of the first (video) stream
            bitCount = readI16(b, off + 22)
            compression = readI32(b, off + 24)
          case fcc if inMovi && fcc.length == 4 &&
              (fcc.endsWith("db") || fcc.endsWith("dc")) =>
            frames += java.util.Arrays.copyOfRange(b, off + 8, off + 8 + size)
          case _ => () // JUNK, idx1, strh, odml, ...
        }
        off += 8 + size + (size & 1) // chunks are word-aligned
      }
    }
    walk(12, b.length, inMovi = false)
    require(width > 0, "AVI has no avih main header")
    val fs = frames.result()
    require(fs.nonEmpty, "AVI has no movi frame chunks")
    require(declaredFrames < 0 || declaredFrames == fs.length,
      s"avih declares $declaredFrames frames but movi carries ${fs.length}")
    Parsed(width, height, usPerFrame, declaredFrames, bitCount, compression, fs)
  }

  /** Decodes an uncompressed 24bpp AVI: requires a 'strf'
    * BITMAPINFOHEADER declaring BI_RGB at 24 bits, each movi chunk
    * exactly one stride x height DIB. Anything else — unknown fourcc,
    * planar formats, truncated chunks — fails with a message, and the
    * Spark stage emits no print for the payload instead of failing the
    * task.
    */
  private def decodeDib(p: Parsed): Video = {
    require(p.compression == 0,
      s"only uncompressed (BI_RGB) AVI supported, got compression ${p.compression}")
    require(p.bitCount == 24, s"only 24bpp AVI supported, got ${p.bitCount}")
    val expect = stride(p.width) * p.height
    p.frames.zipWithIndex.foreach { case (f, i) =>
      require(f.length == expect,
        s"frame $i is ${f.length} bytes, expected $expect (${p.width}x${p.height} DIB)")
    }
    Video(p.width, p.height, p.usPerFrame, p.frames)
  }

  /** Decodes an MJPEG AVI ('MJPG' fourcc, one JPEG per movi chunk):
    * every frame runs through the JDK JPEG decoder and lands in the
    * same bottom-up padded DIB layout [[decodeDib]] produces, so the
    * returned [[Video]] is indistinguishable downstream from an
    * uncompressed clip. Frame dimensions must match the avih header
    * (an MJPEG stream that changes size mid-clip is malformed).
    */
  private def decodeMjpegParsed(p: Parsed): Video = {
    require(p.compression == MjpgFourcc,
      f"not an MJPEG AVI: compression 0x${p.compression}%08x")
    val st = stride(p.width)
    val frames = p.frames.zipWithIndex.map { case (jpeg, i) =>
      val img = ImageCodec.decodeJpeg(jpeg)
      require(img.width == p.width && img.height == p.height,
        s"frame $i is ${img.width}x${img.height}, avih says ${p.width}x${p.height}")
      // top-down packed BGR -> bottom-up stride-padded DIB
      val out = new Array[Byte](st * p.height)
      var y = 0
      while (y < p.height) {
        System.arraycopy(img.pixels, y * p.width * 3,
          out, (p.height - 1 - y) * st, p.width * 3)
        y += 1
      }
      out
    }
    Video(p.width, p.height, p.usPerFrame, frames)
  }

  /** Format-sniffing decode: BI_RGB through the DIB path, MJPG through
    * the JPEG path; other fourccs throw (callers emit no print). One
    * container walk — the sniff and the decode
    * share the same parse.
    */
  def decodeAuto(b: Array[Byte]): Video = {
    val p = parse(b)
    if (p.compression == MjpgFourcc) decodeMjpegParsed(p) else decodeDib(p)
  }

  /** Encodes to a canonical single-stream uncompressed AVI:
    * hdrl(avih + strl(strh'vids'/'DIB ' + strf BITMAPINFOHEADER)) then
    * movi with one '00db' per frame. No idx1 — optional for players,
    * irrelevant for a parser.
    */
  def encode(v: Video): Array[Byte] = {
    val frameSize = stride(v.width) * v.height
    v.frames.foreach(f => require(f.length == frameSize,
      s"frame is ${f.length} bytes, expected $frameSize"))
    val moviContent = v.nFrames * (8 + frameSize + (frameSize & 1))
    val hdrlSize = 4 + (8 + 56) + (8 + (4 + (8 + 56) + (8 + 40)))
    val total = 12 + (8 + hdrlSize) + (8 + 4 + moviContent)
    val b = new Array[Byte](total)
    putTag(b, 0, "RIFF"); writeI32(b, 4, total - 8); putTag(b, 8, "AVI ")
    // hdrl
    var off = 12
    putTag(b, off, "LIST"); writeI32(b, off + 4, hdrlSize); putTag(b, off + 8, "hdrl")
    off += 12
    putTag(b, off, "avih"); writeI32(b, off + 4, 56)
    writeI32(b, off + 8, v.microSecPerFrame)
    writeI32(b, off + 12, if (v.microSecPerFrame > 0)
      (frameSize.toLong * 1000000 / v.microSecPerFrame).min(Int.MaxValue).toInt else 0)
    writeI32(b, off + 24, v.nFrames)
    writeI32(b, off + 32, 1)            // dwStreams
    writeI32(b, off + 36, frameSize)    // dwSuggestedBufferSize
    writeI32(b, off + 40, v.width)
    writeI32(b, off + 44, v.height)
    off += 8 + 56
    val strlSize = 4 + (8 + 56) + (8 + 40)
    putTag(b, off, "LIST"); writeI32(b, off + 4, strlSize); putTag(b, off + 8, "strl")
    off += 12
    putTag(b, off, "strh"); writeI32(b, off + 4, 56)
    putTag(b, off + 8, "vids"); putTag(b, off + 12, "DIB ")
    writeI32(b, off + 28, math.max(1, v.microSecPerFrame)) // dwScale
    writeI32(b, off + 32, 1000000)                         // dwRate
    writeI32(b, off + 40, v.nFrames)                       // dwLength
    writeI32(b, off + 44, frameSize)                       // dwSuggestedBufferSize
    writeI16(b, off + 60, v.width); writeI16(b, off + 62, v.height) // rcFrame
    off += 8 + 56
    putTag(b, off, "strf"); writeI32(b, off + 4, 40)
    writeI32(b, off + 8, 40)            // biSize
    writeI32(b, off + 12, v.width)
    writeI32(b, off + 16, v.height)
    writeI16(b, off + 20, 1)            // biPlanes
    writeI16(b, off + 22, 24)           // biBitCount
    writeI32(b, off + 24, 0)            // biCompression = BI_RGB
    writeI32(b, off + 28, frameSize)    // biSizeImage
    off += 8 + 40
    // movi
    putTag(b, off, "LIST"); writeI32(b, off + 4, 4 + moviContent)
    putTag(b, off + 8, "movi")
    off += 12
    v.frames.foreach { f =>
      putTag(b, off, "00db"); writeI32(b, off + 4, frameSize)
      f.copyToArray(b, off + 8)
      off += 8 + frameSize + (frameSize & 1)
    }
    b
  }

  /** Muxes pre-encoded JPEG frames into an MJPEG AVI: hdrl(avih +
    * strl(strh'vids'/'MJPG' + strf BITMAPINFOHEADER biCompression
    * 'MJPG')) then movi with one '00dc' per JPEG. The inverse of
    * [[decodeAuto]]'s MJPEG path up to JPEG re-encoding loss.
    */
  def encodeMjpeg(jpegFrames: Seq[Array[Byte]], width: Int, height: Int,
      microSecPerFrame: Int): Array[Byte] = {
    require(jpegFrames.nonEmpty, "no frames to mux")
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    val moviContent = jpegFrames.map(f => 8 + f.length + (f.length & 1)).sum
    val maxFrame = jpegFrames.map(_.length).max
    val hdrlSize = 4 + (8 + 56) + (8 + (4 + (8 + 56) + (8 + 40)))
    val total = 12 + (8 + hdrlSize) + (8 + 4 + moviContent)
    val b = new Array[Byte](total)
    putTag(b, 0, "RIFF"); writeI32(b, 4, total - 8); putTag(b, 8, "AVI ")
    var off = 12
    putTag(b, off, "LIST"); writeI32(b, off + 4, hdrlSize); putTag(b, off + 8, "hdrl")
    off += 12
    putTag(b, off, "avih"); writeI32(b, off + 4, 56)
    writeI32(b, off + 8, microSecPerFrame)
    writeI32(b, off + 24, jpegFrames.length)
    writeI32(b, off + 32, 1)            // dwStreams
    writeI32(b, off + 36, maxFrame)     // dwSuggestedBufferSize
    writeI32(b, off + 40, width)
    writeI32(b, off + 44, height)
    off += 8 + 56
    val strlSize = 4 + (8 + 56) + (8 + 40)
    putTag(b, off, "LIST"); writeI32(b, off + 4, strlSize); putTag(b, off + 8, "strl")
    off += 12
    putTag(b, off, "strh"); writeI32(b, off + 4, 56)
    putTag(b, off + 8, "vids"); putTag(b, off + 12, "MJPG")
    writeI32(b, off + 28, math.max(1, microSecPerFrame)) // dwScale
    writeI32(b, off + 32, 1000000)                       // dwRate
    writeI32(b, off + 40, jpegFrames.length)             // dwLength
    writeI32(b, off + 44, maxFrame)                      // dwSuggestedBufferSize
    writeI16(b, off + 60, width); writeI16(b, off + 62, height) // rcFrame
    off += 8 + 56
    putTag(b, off, "strf"); writeI32(b, off + 4, 40)
    writeI32(b, off + 8, 40)            // biSize
    writeI32(b, off + 12, width)
    writeI32(b, off + 16, height)
    writeI16(b, off + 20, 1)            // biPlanes
    writeI16(b, off + 22, 24)           // biBitCount
    writeI32(b, off + 24, MjpgFourcc)   // biCompression = 'MJPG'
    off += 8 + 40
    putTag(b, off, "LIST"); writeI32(b, off + 4, 4 + moviContent)
    putTag(b, off + 8, "movi")
    off += 12
    jpegFrames.foreach { f =>
      putTag(b, off, "00dc"); writeI32(b, off + 4, f.length)
      f.copyToArray(b, off + 8)
      off += 8 + f.length + (f.length & 1)
    }
    b
  }

  /** Frame `idx` as an [[ImageCodec.Image]] (top-down packed BGR) —
    * the bridge from the DIB frame layout to the image kernels
    * (resize, aHash), so video keyframes flow into the same
    * perceptual-dedup stack as still images.
    */
  def frameImage(v: Video, idx: Int): ImageCodec.Image = {
    val f = v.frames(idx)
    val st = stride(v.width)
    val out = new Array[Byte](v.width * v.height * 3)
    var y = 0
    while (y < v.height) {
      System.arraycopy(f, (v.height - 1 - y) * st, out, y * v.width * 3,
        v.width * 3)
      y += 1
    }
    ImageCodec.Image(v.width, v.height, out)
  }
}
