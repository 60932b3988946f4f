package graft.serde

/** The TIFF-dialect LZW codec (TIFF 6.0 §13), which PDF's LZWDecode
  * (ISO 32000 §7.4.4) reuses: MSB-first code packing, 9→12-bit codes,
  * 256 = clear, 257 = EOD, first dictionary entry 258. GIF's variant
  * ([[graft.llm.Multimodal.decodeGifGray]]) packs codes LSB-first from a
  * per-image minimum width and widens without the early change: the two
  * share only the dictionary idea, so it stays a separate walk.
  *
  * EARLY CHANGE: the decoder widens its codes when the next free entry
  * reaches 2^w − 1, one entry sooner than the value range requires (the
  * spec's codified off-by-one); PDF's `/EarlyChange 0` widens at 2^w. The
  * encoder widens at 2^w: its table add for a given stream position runs
  * one ahead of the decoder's (the first data code adds nothing), so the
  * pair agrees. Cross-validated in both directions against the JDK's
  * ImageIO TIFF codec in MediaInteropSpec. */
private[graft] object Lzw {

  /** Decode `b[off, off + len)` until EOD, the end of the codes, or `max`
    * output bytes, whichever comes first (a string that crosses `max` is
    * cut there). None when the stream is malformed: a code beyond the
    * table, or a first code after CLEAR that is not a literal. The
    * dictionary is the fixed 4096-entry table; the output never passes
    * `max`, which bounds what a crafted stream can make the decoder
    * allocate — LZW can expand ~3600:1. */
  def decode(b: Array[Byte], off: Int, len: Int, earlyChange: Boolean,
      max: Int): Option[Array[Byte]] = {
    var bitPos = off.toLong * 8
    val bitEnd = math.min(off.toLong + len, b.length.toLong) * 8
    var out = new Array[Byte](math.min(max.toLong, math.max(len, 1024) * 4L).toInt)
    var o = 0
    def put(v: Byte): Unit = {
      if (o == out.length) out = java.util.Arrays.copyOf(out, math.min(max.toLong, out.length * 2L).toInt)
      out(o) = v; o += 1
    }
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    var next = 258
    var width = 9
    val widen = if (earlyChange) 1 else 0
    var prev = -1
    while (o < max) {
      if (bitPos + width > bitEnd) return Some(java.util.Arrays.copyOf(out, o)) // exhausted
      var code = 0
      var k = 0
      while (k < width) {
        code = (code << 1) | ((b((bitPos >> 3).toInt) >> (7 - (bitPos & 7)).toInt) & 1)
        bitPos += 1; k += 1
      }
      if (code == 257) return Some(java.util.Arrays.copyOf(out, o)) // EOD
      if (code == 256) { next = 258; width = 9; prev = -1 }
      else if (prev == -1) {
        if (code > 255) return None // the first code after CLEAR must be literal
        put(code.toByte); prev = code
      } else {
        if (code > next) return None
        val kwkw = code == next // string(prev) + its own first byte
        var sp = if (kwkw) 1 else 0 // stack(0) holds the trailing first byte
        var c = if (kwkw) prev else code
        while (c > 255) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
        val first = c.toByte
        if (kwkw) stack(0) = first
        put(first)
        while (sp > 0 && o < max) { sp -= 1; put(stack(sp)) }
        if (next < 4096) {
          prefix(next) = prev; suffix(next) = first
          next += 1
          if (width < 12 && next >= (1 << width) - widen) width += 1
        }
        prev = code
      }
    }
    Some(java.util.Arrays.copyOf(out, o))
  }

  /** Encode with a CLEAR first, a CLEAR and table restart whenever the
    * table nears full (4093 entries), and EOD last. */
  def encode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var accBits = 0
    var width = 9
    def emit(code: Int): Unit = {
      acc = (acc << width) | code
      accBits += width
      while (accBits >= 8) {
        out.write(((acc >> (accBits - 8)) & 0xFF).toInt)
        accBits -= 8
      }
    }
    val dict = scala.collection.mutable.HashMap.empty[Long, Int] // (prefix << 8 | byte) -> code
    var nextCode = 258
    emit(256)
    var cur = -1
    data.foreach { bb =>
      val byte = bb & 0xFF
      if (cur == -1) cur = byte
      else {
        val key = cur.toLong << 8 | byte
        dict.get(key) match {
          case Some(c) => cur = c
          case None =>
            emit(cur)
            if (nextCode < 4093) {
              dict(key) = nextCode
              nextCode += 1
              if (nextCode == (1 << width) && width < 12) width += 1
            } else {
              emit(256)
              dict.clear(); nextCode = 258; width = 9
            }
            cur = byte
        }
      }
    }
    if (cur != -1) emit(cur)
    emit(257)
    if (accBits > 0) out.write(((acc << (8 - accBits)) & 0xFF).toInt)
    out.toByteArray
  }
}
