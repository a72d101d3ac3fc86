package graft.operators

/** Real, dependency-free audio codec for the multimodal path: RIFF/WAVE
  * PCM 16-bit decode / encode and the audio aHash, pure JVM — the
  * audio twin of [[ImageCodec]] (the reference environment ships no
  * codec libraries).
  *
  * Executor-local by construction — byte array in, byte array out, no
  * driver involvement, so it runs unchanged inside `mapPartitions` at
  * any scale.
  */
object AudioCodec {

  /** Decoded clip: interleaved 16-bit samples, `channels` per frame. */
  final case class Audio(sampleRate: Int, channels: Int, samples: Array[Short]) {
    require(channels > 0, s"bad channel count $channels")
    require(samples.length % channels == 0,
      s"${samples.length} samples not divisible into $channels channels")
    def nFrames: Int = samples.length / channels
  }

  /** Cheap sniff: RIFF container magic + WAVE form type + room for the
    * canonical 44-byte header.
    */
  def isWav(b: Array[Byte]): Boolean =
    b.length > 44 &&
      b(0) == 'R'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte && b(3) == 'F'.toByte &&
      b(8) == 'W'.toByte && b(9) == 'A'.toByte && b(10) == 'V'.toByte && b(11) == 'E'.toByte

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

  /** Decodes a PCM 16-bit RIFF/WAVE payload. Walks the chunk list (so
    * extra chunks like LIST/fact before `data` are fine); requires one
    * `fmt ` chunk declaring format 1 (integer PCM) at 16 bits and one
    * `data` chunk.
    */
  def decode(b: Array[Byte]): Audio = {
    require(isWav(b), "not a WAVE payload (missing RIFF/WAVE magic)")
    var off = 12
    var sampleRate = -1
    var channels = -1
    var dataOff = -1
    var dataLen = -1
    while (off + 8 <= b.length && (sampleRate < 0 || dataOff < 0)) {
      val id = tag(b, off)
      val size = readI32(b, off + 4)
      // Long arithmetic: a corrupt size near Int.MaxValue would wrap the
      // Int sum negative, pass the bound check, and turn the intended
      // clean failure into a ~2 GB allocation downstream
      require(size >= 0 && off.toLong + 8 + size <= b.length,
        s"truncated WAVE: chunk '$id' claims $size bytes at offset $off of ${b.length}")
      id match {
        case "fmt " =>
          require(size >= 16, s"fmt chunk too small: $size")
          val fmt = readI16(b, off + 8)
          require(fmt == 1, s"only integer-PCM WAVE supported, got format $fmt")
          channels = readI16(b, off + 10)
          sampleRate = readI32(b, off + 12)
          val bits = readI16(b, off + 22)
          require(bits == 16, s"only 16-bit PCM supported, got $bits")
          require(channels > 0 && sampleRate > 0,
            s"bad fmt: $channels channels at $sampleRate Hz")
        case "data" =>
          dataOff = off + 8; dataLen = size
        case _ => () // skip LIST, fact, etc.
      }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    require(sampleRate > 0, "WAVE has no fmt chunk")
    require(dataOff >= 0, "WAVE has no data chunk")
    val n = dataLen / 2
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      samples(i) = readI16(b, dataOff + i * 2).toShort
      i += 1
    }
    require(samples.length % channels == 0,
      s"data chunk ($n samples) not divisible into $channels channels")
    Audio(sampleRate, channels, samples)
  }

  /** Encodes to the canonical 44-byte-header PCM 16-bit WAVE. */
  def encode(a: Audio): Array[Byte] = {
    val dataSize = a.samples.length * 2
    val b = new Array[Byte](44 + dataSize)
    b(0) = 'R'.toByte; b(1) = 'I'.toByte; b(2) = 'F'.toByte; b(3) = 'F'.toByte
    writeI32(b, 4, 36 + dataSize)
    b(8) = 'W'.toByte; b(9) = 'A'.toByte; b(10) = 'V'.toByte; b(11) = 'E'.toByte
    b(12) = 'f'.toByte; b(13) = 'm'.toByte; b(14) = 't'.toByte; b(15) = ' '.toByte
    writeI32(b, 16, 16)                       // fmt chunk size
    writeI16(b, 20, 1)                        // integer PCM
    writeI16(b, 22, a.channels)
    writeI32(b, 24, a.sampleRate)
    writeI32(b, 28, a.sampleRate * a.channels * 2) // byte rate
    writeI16(b, 32, a.channels * 2)           // block align
    writeI16(b, 34, 16)                       // bits per sample
    b(36) = 'd'.toByte; b(37) = 'a'.toByte; b(38) = 't'.toByte; b(39) = 'a'.toByte
    writeI32(b, 40, dataSize)
    var i = 0
    while (i < a.samples.length) {
      writeI16(b, 44 + i * 2, a.samples(i))
      i += 1
    }
    b
  }

  /** Average-energy perceptual fingerprint — the audio twin of
    * [[ImageCodec.aHash]]: 64 equal time slices, bit i set when slice
    * i's mean |amplitude| exceeds the clip's global mean. Integer-only
    * (means compared by cross-multiplication, never divided), so the
    * print is deterministic across platforms; amplitude-preserving
    * edits (re-encode, small dropouts, trailing silence trims shorter
    * than a slice) flip only the few bits whose slice they touch,
    * which is exactly the hamming-bounded structure
    * [[graft.operators.Dedup.bandedHammingPairs]] indexes.
    */
  def aHash(b: Array[Byte]): Long = {
    val a = decode(b)
    val n = a.samples.length
    require(n >= 64, s"clip too short for a 64-slice print: $n samples")
    // cross-multiplication bound: energy_i·n ≤ (n/64)·32767·n < 2^63
    // holds up to n = 1e8 samples (~35 min mono @ 48 kHz); fail loudly
    // past it instead of silently wrapping (q56's overflow convention)
    require(n <= 100000000, s"clip too long for exact integer means: $n samples")
    val energy = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < n) {
      val v = math.abs(a.samples(i).toLong)
      energy((i * 64L / n).toInt) += v
      total += v
      i += 1
    }
    var h = 0L
    i = 0
    while (i < 64) {
      // slice mean > global mean  ⇔  energy_i · n > total · sliceLen
      val lo = (i.toLong * n / 64).toInt
      val hi = ((i + 1).toLong * n / 64).toInt
      if (energy(i) * n > total * (hi - lo)) h |= (1L << i)
      i += 1
    }
    h
  }
}
