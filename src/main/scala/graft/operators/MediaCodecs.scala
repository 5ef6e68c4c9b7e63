package graft.operators

/** Real, pure-JVM binary media codecs backing the multimodal operators
  * (north-star "multimodal columns"; the reference has no media handling —
  * this surface extends it). Two deliberately dependency-free formats whose
  * specs are public and simple enough to parse exactly:
  *
  *   - PNM (portable anymap, P5 grayscale / P6 RGB raw variants): ASCII
  *     header (magic, width, height, maxval, `#` comments) followed by raw
  *     sample bytes — the interchange format of netpbm.
  *   - WAV (RIFF/WAVE): little-endian chunked container with a `fmt `
  *     descriptor chunk and a `data` PCM payload chunk.
  *
  * Both parsers are strict — malformed or truncated payloads throw
  * `IllegalArgumentException` with a positional message rather than
  * returning garbage — and allocation-light (one pixel/sample array copy
  * per payload). They run inside `mapPartitions` executors, so they must be
  * deterministic and `Serializable`-free (pure objects, no state).
  */
object MediaCodecs {

  /** One decoded PNM raster. `channels` is 1 for P5, 3 for P6; `pixels`
    * holds `width * height * channels` raw sample bytes (maxval <= 255
    * single-byte samples; the 2-byte >255 variant is rejected, not
    * misread).
    */
  final case class PnmImage(
      magic: String, width: Int, height: Int, maxVal: Int,
      channels: Int, pixels: Array[Byte])

  /** Decoded WAV: the `fmt ` chunk fields plus the raw `data` chunk bytes
    * (for 8-bit mono PCM, one byte per sample).
    */
  final case class WavAudio(
      audioFormat: Int, channels: Int, sampleRate: Int,
      bitsPerSample: Int, data: Array[Byte]) {
    def nSamples: Long =
      if (bitsPerSample == 0 || channels == 0) 0L
      else data.length.toLong / (channels * (bitsPerSample / 8).max(1))
    def durationMs: Long =
      if (sampleRate == 0) 0L else nSamples * 1000L / sampleRate
  }

  object Pnm {

    /** Parse a single PNM image occupying the whole payload. */
    def parse(bytes: Array[Byte]): PnmImage = {
      val (img, end) = parseAt(bytes, 0)
      if (end != bytes.length)
        fail(s"trailing ${bytes.length - end} bytes after image", end)
      img
    }

    /** Parse one PNM image starting at `off`; returns it plus the offset
      * one past its raster — the primitive for concatenated-frame streams.
      */
    def parseAt(bytes: Array[Byte], off: Int): (PnmImage, Int) = {
      if (bytes == null || bytes.length - off < 2) fail("no PNM magic", off)
      val magic = new String(bytes, off, 2, "US-ASCII")
      val channels = magic match {
        case "P5" => 1
        case "P6" => 3
        case m => fail(s"unsupported PNM magic '$m' (P5/P6 only)", off)
      }
      var p = off + 2
      def nextInt(): Int = {
        // skip whitespace and '#'-to-end-of-line comments between tokens
        var inComment = false
        while (p < bytes.length &&
            (inComment || isSpace(bytes(p)) || bytes(p) == '#')) {
          if (bytes(p) == '#') inComment = true
          else if (bytes(p) == '\n') inComment = false
          p += 1
        }
        if (p >= bytes.length) fail("truncated PNM header", p)
        var v = 0L
        val start = p
        while (p < bytes.length && bytes(p) >= '0' && bytes(p) <= '9') {
          v = v * 10 + (bytes(p) - '0')
          if (v > Int.MaxValue) fail("PNM header value overflow", start)
          p += 1
        }
        if (p == start) fail(s"expected digit, got byte ${bytes(p)}", p)
        v.toInt
      }
      val width = nextInt()
      val height = nextInt()
      val maxVal = nextInt()
      if (maxVal <= 0 || maxVal > 255)
        fail(s"unsupported maxval $maxVal (1..255 single-byte only)", p)
      // exactly ONE whitespace byte separates maxval from the raster
      if (p >= bytes.length || !isSpace(bytes(p)))
        fail("missing raster separator after maxval", p)
      p += 1
      val n = width.toLong * height * channels
      if (n > Int.MaxValue - 16) fail("raster too large", p)
      if (bytes.length - p < n)
        fail(s"truncated raster: need $n bytes, have ${bytes.length - p}", p)
      val pixels = java.util.Arrays.copyOfRange(bytes, p, p + n.toInt)
      (PnmImage(magic, width, height, maxVal, channels, pixels), p + n.toInt)
    }

    /** Parse a stream of back-to-back PNM images (the frame-sequence
      * "video" container). Empty/null payload decodes to zero frames.
      */
    def parseAll(bytes: Array[Byte]): Seq[PnmImage] = {
      if (bytes == null || bytes.isEmpty) return Nil
      val out = Seq.newBuilder[PnmImage]
      var p = 0
      while (p < bytes.length) {
        val (img, next) = parseAt(bytes, p)
        out += img
        p = next
      }
      out.result()
    }

    private def isSpace(b: Byte): Boolean =
      b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f' || b == 0x0b

    private def fail(msg: String, at: Int): Nothing =
      throw new IllegalArgumentException(s"PNM parse error at byte $at: $msg")
  }

  object Wav {

    /** Parse a RIFF/WAVE payload by walking its chunk list (odd-sized
      * chunks are padded to even per the RIFF rule; unknown chunks — LIST,
      * fact, cue — are skipped). Requires one `fmt ` and one `data` chunk
      * in any order.
      */
    def parse(bytes: Array[Byte]): WavAudio = {
      if (bytes == null || bytes.length < 12) fail("payload shorter than RIFF header", 0)
      if (fourCC(bytes, 0) != "RIFF") fail(s"bad container magic '${fourCC(bytes, 0)}'", 0)
      val riffSize = le32(bytes, 4)
      if (riffSize < 4 || 8L + riffSize > bytes.length)
        fail(s"RIFF size $riffSize exceeds payload ${bytes.length}", 4)
      if (fourCC(bytes, 8) != "WAVE") fail(s"bad form type '${fourCC(bytes, 8)}'", 8)

      var p = 12
      val end = 8 + riffSize
      var fmt: Option[(Int, Int, Int, Int)] = None
      var data: Option[Array[Byte]] = None
      while (p + 8 <= end) {
        val id = fourCC(bytes, p)
        val size = le32(bytes, p + 4)
        val body = p + 8
        if (size < 0 || body + size > end)
          fail(s"chunk '$id' size $size overruns container", p + 4)
        id match {
          case "fmt " =>
            if (size < 16) fail(s"fmt chunk too small ($size < 16)", body)
            fmt = Some((le16(bytes, body), le16(bytes, body + 2),
              le32(bytes, body + 4), le16(bytes, body + 14)))
          case "data" =>
            data = Some(java.util.Arrays.copyOfRange(bytes, body, body + size))
          case _ => () // skip unknown chunk
        }
        p = body + size + (size & 1) // RIFF pad byte on odd sizes
      }
      (fmt, data) match {
        case (Some((af, ch, rate, bits)), Some(d)) => WavAudio(af, ch, rate, bits, d)
        case (None, _) => fail("missing 'fmt ' chunk", p)
        case (_, None) => fail("missing 'data' chunk", p)
      }
    }

    private def fourCC(b: Array[Byte], off: Int): String =
      new String(b, off, 4, "US-ASCII")

    private def le16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

    private def le32(b: Array[Byte], off: Int): Int =
      (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

    private def fail(msg: String, at: Int): Nothing =
      throw new IllegalArgumentException(s"WAV parse error at byte $at: $msg")
  }
}
