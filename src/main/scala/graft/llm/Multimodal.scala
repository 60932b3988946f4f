package graft.llm

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` columns with
  * typed metadata, processed batch-wise with `mapPartitions`.
  *
  * The decode step is REAL for the pure-JVM-parseable families — BMP, PNM
  * (PPM/PGM), PNG (IHDR), GIF (screen descriptor) and JPEG (SOF marker
  * walk) image headers, RIFF/WAVE PCM audio — and REAL down to
  * pixels/samples/frames for BMP 24-bpp, binary PNM, PNG (its only codec
  * is DEFLATE, which the JDK ships — full inflate + unfilter in
  * [[decodePngGray]]), GIF (LZW is a pure-JVM dictionary walk —
  * [[decodeGifGray]] incl. de-interlace), baseline AND progressive JPEG
  * (Huffman + DC prediction + dequant + IDCT implemented from the T.81
  * math — [[decodeJpegGray]], one decoder for both, with the full
  * successive-approximation refinement walk), TIFF (strips with
  * none/PackBits/LZW compression — [[Tiff.decodeGray]], cross-validated
  * against the JDK's own ImageIO plugins in MediaInteropSpec), WAV
  * across widths, FLAC ([[Flac.decodePcm]]) and
  * Y4M video. The DETERMINISTIC STUB scope is down to MP3 SAMPLE decode
  * (its frame-header/ID3 metadata walk IS real — [[parseMp3]]; the
  * Huffman+IMDCT body stays out because no external validator exists in
  * this container and hand-transcribing the 32 ISO Huffman tables
  * without one would be unverifiable), H.264, and arithmetic-coded
  * JPEG (ImageIO lacks it too — same no-validator argument). What is
  * load-bearing for a 100 TB pipeline either
  * way: the schema (binary payload + typed metadata), the partition-parallel
  * batch shape (one decoder init per partition, streamed records), and the
  * frame-sampling fanout as a generator expression. Swapping the stub body
  * for a javacv/ffmpeg call changes no plan shape.
  */
object Multimodal {

  case class Media(doc_id: Long, media: Array[Byte], mime: String)
  case class MediaMeta(doc_id: Long, byte_len: Long, width: Int, height: Int, n_frames: Int)
  case class AudioMeta(doc_id: Long, byte_len: Long, sample_rate: Int, channels: Int,
      n_samples: Long, duration_ms: Long)
  case class AudioTags(doc_id: Long, title: String, artist: String, album: String)

  // ---- real header parsers (no native deps, header-only reads) ----

  /** BMP (Windows DIB with BITMAPINFOHEADER): 'BM' magic, int32-LE width at
    * byte 18, int32-LE height at 22 — negative height means top-down row
    * order, so dimensions are |height|. Header-only: never touches the
    * pixel array. */
  private[graft] def parseBmp(b: Array[Byte]): Option[(Int, Int)] =
    if (b != null && b.length >= 26 && b(0) == 'B' && b(1) == 'M') {
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      Some((bb.getInt(18), math.abs(bb.getInt(22))))
    } else None

  /** PNM (PPM "P3"/"P6", PGM "P2"/"P5"): ASCII header `magic w h` with
    * '#'-to-newline comments allowed between tokens. */
  private[graft] def parsePnm(b: Array[Byte]): Option[(Int, Int)] = {
    if (b == null || b.length < 2 || b(0) != 'P' || !"2356".contains(b(1).toChar)) return None
    var i = 2
    def nextInt(): Option[Int] = {
      // skip whitespace and comments
      var in = false
      var v = 0
      while (i < b.length) {
        val c = b(i).toChar
        if (!in && c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else if (c.isDigit) { in = true; v = v * 10 + (c - '0'); i += 1 }
        else if (in) return Some(v)
        else if (c.isWhitespace) i += 1
        else return None
      }
      if (in) Some(v) else None
    }
    for (w <- nextInt(); h <- nextInt()) yield (w, h)
  }

  /** PNG IHDR: 8-byte signature, then the IHDR chunk is REQUIRED first
    * (RFC 2083 §4.1.1), so width/height sit at fixed big-endian offsets
    * 16/20. Header-only — no inflate, no codec. */
  private[graft] def parsePng(b: Array[Byte]): Option[(Int, Int)] =
    if (b != null && b.length >= 24 &&
        (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
      val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
      // spec constraints, not paranoia: IHDR data is exactly 13 bytes and
      // dimensions are positive — corrupted fields must reject, not flow
      // negative/garbage dims into downstream statistics
      val w = bb.getInt(16)
      val h = bb.getInt(20)
      if (bb.getInt(8) == 13 && w > 0 && h > 0) Some((w, h)) else None
    } else None

  /** GIF87a/89a logical screen descriptor: width/height as little-endian
    * uint16 at offsets 6/8. */
  private[graft] def parseGif(b: Array[Byte]): Option[(Int, Int)] =
    if (b != null && b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      val w = bb.getShort(6) & 0xFFFF
      val h = bb.getShort(8) & 0xFFFF
      if (w > 0 && h > 0) Some((w, h)) else None
    } else None

  /** REAL GIF pixel decode — like PNG, GIF needs no external codec: LZW
    * is a dictionary walk any JVM can do. The path: signature + logical
    * screen descriptor → global colour table → block walk (extensions
    * skipped via their sub-block chains) → FIRST image descriptor
    * (animated GIFs decode their first frame, the corpus-dedup-relevant
    * one) → local-or-global colour table → LZW decode (variable code
    * width 3–12 bits, CLEAR/END codes, dictionary rebuild, the KwKwK
    * first-use case) → de-interlace when flagged (the 8/8, 4/8, 2/4,
    * 1/2 four-pass row order) → palette lookup → integer BT.601 luma.
    *
    * Scope honesty: transparent pixels take their palette RGB (dedup
    * wants content, not compositing). Corrupt input — truncated
    * sub-blocks, codes past the dictionary, missing colour table,
    * undersized output — returns None, never a task failure. Output
    * allocation is w·h ints from the DECLARED descriptor dims, which
    * are ≤ 65535² by format (16-bit fields) and guarded in Long against
    * absurd w·h before allocating.
    *
    * Structure: [[gifHeader]] (signature + screen descriptor + global
    * table), [[gifSkipExtensions]], and [[gifImageGray]] (one image
    * descriptor → luma) are shared between this first-frame form and
    * the animated multi-frame form [[decodeGifFramesSampled]] that
    * feeds the video near-dup family. */
  private[graft] def decodeGifGray(b: Array[Byte]): Option[(Int, Int, Array[Int])] =
    gifHeader(b).flatMap { case (_, _, globalTable, _, start) =>
      val pos = gifSkipExtensions(b, start)
      if (pos >= b.length || (b(pos) & 0xFF) != 0x2C) None
      else gifImageGray(b, pos, globalTable).map { case (w, h, g, _) => (w, h, g) }
    }

  /** Signature + logical screen descriptor + global colour table →
    * (screenW, screenH, globalTable-or-null, background colour index,
    * offset of the first block after the table). */
  private def gifHeader(b: Array[Byte]): Option[(Int, Int, Array[Int], Int, Int)] = {
    if (b == null || b.length < 14 || b(0) != 'G' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != '8' || (b(4) != '7' && b(4) != '9') || b(5) != 'a') return None
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val sw = bb.getShort(6) & 0xFFFF
    val sh = bb.getShort(8) & 0xFFFF
    val flags = b(10) & 0xFF
    val bgIndex = b(11) & 0xFF
    var pos = 13
    var globalTable: Array[Int] = null // packed 0xRRGGBB
    if ((flags & 0x80) != 0) {
      val n = 2 << (flags & 7)
      if (pos + 3 * n > b.length) return None
      globalTable = gifReadTable(b, pos, n)
      pos += 3 * n
    }
    Some((sw, sh, globalTable, bgIndex, pos))
  }

  /** Like [[gifSkipExtensions]], but CAPTURES the graphic-control
    * extension (label 0xF9) that governs the next image: returns
    * (posAfterExtensions, disposal, transparentIndex-or-−1). The last
    * GCE before the descriptor wins (real encoders emit exactly one). */
  private def gifExtensionsWithGce(b: Array[Byte], start: Int): (Int, Int, Int) = {
    var pos = start
    var disposal = 0
    var transIdx = -1
    while (pos < b.length && (b(pos) & 0xFF) == 0x21) {
      val label = if (pos + 1 < b.length) b(pos + 1) & 0xFF else -1
      pos += 2
      var first = true
      while (pos < b.length && b(pos) != 0) {
        val sz = b(pos) & 0xFF
        if (first && label == 0xF9 && sz >= 4 && pos + 4 < b.length) {
          val packed = b(pos + 1) & 0xFF
          disposal = (packed >> 2) & 7
          transIdx = if ((packed & 1) != 0) b(pos + 4) & 0xFF else -1
        }
        first = false
        pos += 1 + sz
      }
      pos += 1 // block terminator
    }
    (pos, disposal, transIdx)
  }

  private def gifReadTable(b: Array[Byte], pos: Int, n: Int): Array[Int] =
    Array.tabulate(n)(i =>
      ((b(pos + 3 * i) & 0xFF) << 16) | ((b(pos + 3 * i + 1) & 0xFF) << 8) |
        (b(pos + 3 * i + 2) & 0xFF))

  /** Skip 0x21 extension blocks (each a label + sub-block chain). */
  private def gifSkipExtensions(b: Array[Byte], start: Int): Int = {
    var pos = start
    while (pos < b.length && (b(pos) & 0xFF) == 0x21) {
      pos += 2 // introducer + label
      while (pos < b.length && b(pos) != 0) {
        val sz = b(pos) & 0xFF
        pos += 1 + sz
      }
      pos += 1 // block terminator
    }
    pos
  }

  /** Skip one image descriptor + its table + LZW sub-block chain WITHOUT
    * decoding — what lets the animated sampler's allocation stay
    * proportional to sampleFrames, not duration. Returns the offset
    * after the image, or −1 on truncation. */
  private def gifSkipImage(b: Array[Byte], start: Int): Int = {
    var pos = start
    if (pos + 10 > b.length) return -1
    val iFlags = b(pos + 9) & 0xFF
    pos += 10
    if ((iFlags & 0x80) != 0) pos += 3 * (2 << (iFlags & 7))
    pos += 1 // LZW min code size
    if (pos > b.length) return -1
    while (pos < b.length && b(pos) != 0) {
      val sz = b(pos) & 0xFF
      pos += 1 + sz
    }
    if (pos >= b.length) -1 else pos + 1
  }

  /** Decode ONE image descriptor (at `pos`, pointing at 0x2C) to a luma
    * plane; dims come from the descriptor itself. Returns (w, h, gray,
    * endOffset). */
  private def gifImageGray(b: Array[Byte], imgPos: Int,
      globalTable: Array[Int]): Option[(Int, Int, Array[Int], Int)] =
    gifImageIndices(b, imgPos, globalTable).map {
      case (_, _, w, h, idx, table, endPos) =>
        val gray = new Array[Int](w * h)
        var i = 0
        while (i < gray.length) {
          val rgb = table(idx(i))
          gray(i) =
            (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) + 114 * (rgb & 0xFF)) / 1000
          i += 1
        }
        (w, h, gray, endPos)
    }

  /** Decode ONE image descriptor to PALETTE INDICES in display row order
    * (de-interlaced), keeping the rect placement and colour table — the
    * form the animated compositor needs (transparency is an INDEX
    * comparison, so it must happen before palette mapping). Returns
    * (left, top, w, h, indices, table, endOffset). */
  private def gifImageIndices(b: Array[Byte], imgPos: Int,
      globalTable: Array[Int]): Option[(Int, Int, Int, Int, Array[Int], Array[Int], Int)] = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    var pos = imgPos
    if (pos + 10 > b.length) return None
    val left = bb.getShort(pos + 1) & 0xFFFF
    val top = bb.getShort(pos + 3) & 0xFFFF
    val w = bb.getShort(pos + 5) & 0xFFFF
    val h = bb.getShort(pos + 7) & 0xFFFF
    val iFlags = b(pos + 9) & 0xFF
    val interlaced = (iFlags & 0x40) != 0
    pos += 10
    if (w <= 0 || h <= 0 || w.toLong * h > (1L << 28)) return None // 256M px sanity cap
    val table =
      if ((iFlags & 0x80) != 0) {
        val n = 2 << (iFlags & 7)
        if (pos + 3 * n > b.length) return None
        val t = gifReadTable(b, pos, n)
        pos += 3 * n
        t
      } else globalTable
    if (table == null) return None
    if (pos >= b.length) return None
    val minCode = b(pos) & 0xFF
    pos += 1
    if (minCode < 2 || minCode > 11) return None
    // concatenate the data sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    var term = false
    while (!term) {
      if (pos >= b.length) return None
      val sz = b(pos) & 0xFF
      pos += 1
      if (sz == 0) term = true
      else {
        if (pos + sz > b.length) return None
        data.write(b, pos, sz)
        pos += sz
      }
    }
    val code = data.toByteArray
    // LZW decode (GIF variant): dictionary of (prefix code, appended
    // byte), codes grow 1 bit when the next slot would overflow the
    // current width, capped at 12 bits; CLEAR resets, KwKwK handled
    val clear = 1 << minCode
    val end = clear + 1
    val nPix = w * h
    val out = new Array[Int](nPix)
    val prefix = new Array[Int](4096)
    val append = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    var nextSlot = end + 1
    var width = minCode + 1
    var prev = -1
    var written = 0
    var bitPos = 0
    val totalBits = code.length * 8
    def emit(c: Int): Boolean = { // expand code c onto out; false on bad code
      var sp = 0
      var cc = c
      while (cc >= clear) { // walk the chain down to a literal
        if (sp >= stack.length || cc >= nextSlot) return false
        stack(sp) = append(cc); sp += 1
        cc = prefix(cc)
      }
      if (cc >= table.length) return false
      // literal + reversed chain
      if (written + sp + 1 > nPix) return false
      out(written) = cc; written += 1
      while (sp > 0) { sp -= 1; out(written) = stack(sp) & 0xFF; written += 1 }
      true
    }
    def firstLiteral(c: Int): Int = {
      var cc = c
      while (cc >= clear) cc = prefix(cc)
      cc
    }
    var fail = false
    var ended = false
    while (!ended && !fail && written < nPix && bitPos + width <= totalBits) {
      // read `width` bits LSB-first
      var v = 0
      var got = 0
      while (got < width) {
        val byteI = (bitPos + got) >> 3
        val bit = (code(byteI) >> ((bitPos + got) & 7)) & 1
        v |= bit << got
        got += 1
      }
      bitPos += width
      if (v == clear) {
        nextSlot = end + 1; width = minCode + 1; prev = -1
      } else if (v == end) ended = true
      else if (prev == -1) {
        if (v >= clear || !emit(v)) fail = true else prev = v
      } else {
        if (v > nextSlot || (v == nextSlot && nextSlot >= 4096)) fail = true
        else {
          val isNew = v == nextSlot // KwKwK: code used before it's defined
          if (nextSlot < 4096) {
            prefix(nextSlot) = prev
            append(nextSlot) = firstLiteral(if (isNew) prev else v).toByte
            nextSlot += 1
            if (nextSlot == (1 << width) && width < 12) width += 1
          }
          if (!emit(v)) fail = true else prev = v
        }
      }
    }
    if (fail || written != nPix) return None
    // bounds-check indices and restore display row order if interlaced
    val idx =
      if (!interlaced) out
      else {
        val rowOrder = new Array[Int](h)
        var k = 0
        for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2)); y <- start until h by step) {
          rowOrder(k) = y; k += 1
        }
        val d = new Array[Int](nPix)
        var sy = 0
        while (sy < h) {
          System.arraycopy(out, sy * w, d, rowOrder(sy) * w, w)
          sy += 1
        }
        d
      }
    var i2 = 0
    while (i2 < nPix) {
      if (idx(i2) >= table.length) return None
      i2 += 1
    }
    Some((left, top, w, h, idx, table, pos))
  }

  /** ANIMATED GIF → sampled frame lumas, the [[decodeY4mGraySampled]]
    * shape for the container every scraped-meme corpus is full of —
    * now with the FULL GIF89a compositing model (round 12): frames are
    * sub-rect DELTAS against a canvas that starts as the background
    * colour; non-transparent pixels overwrite, disposal 2 restores the
    * frame's rect to background, disposal 3 restores the pre-frame
    * canvas. Sampled frame i's plane is the canvas AFTER frame
    * ⌊i·n/k⌋ composites.
    *
    * Scale shape: the scan pass still walks descriptors without
    * decoding, and a frame that is FULL-SCREEN and OPAQUE is
    * self-contained — each sampled frame's decode chain starts at the
    * nearest self-contained frame at or before it, so the common
    * full-screen case keeps the skip-everything-unsampled behaviour
    * (CPU ∝ sampleFrames, the r11 contract), while delta GIFs decode
    * their chains with memory ∝ ONE canvas (+ one snapshot allocated
    * only if disposal-3 appears). An out-of-canvas rect or a failed
    * frame decode ends the walk (honest prefix, like truncated Y4M).
    * Single-image GIFs come out as 1-frame videos, consistent with
    * [[decodeGifGray]]. */
  private[graft] def decodeGifFramesSampled(b: Array[Byte], sampleFrames: Int)
      : Option[(Int, Int, Seq[(Int, Array[Int])])] =
    gifHeader(b).filter { case (sw, sh, _, _, _) =>
      sw > 0 && sh > 0 && sw.toLong * sh <= (1L << 28)
    }.flatMap { case (sw, sh, globalTable, bgIndex, start) =>
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      case class FM(imgPos: Int, left: Int, top: Int, w: Int, h: Int,
          disposal: Int, transIdx: Int) {
        /** A chain may START at this frame only if compositing it alone
          * reproduces the canvas: full-screen, opaque, AND not
          * disposal-3 — a restore-to-previous frame copies back the
          * pre-frame canvas after compositing, and when the prefix was
          * skipped that snapshot is the background fill, not the true
          * prior content, so every later frame in the chain would
          * composite over wrong pixels (round-13 fix; sampling the
          * disposal-3 frame itself stays correct because planes are
          * captured before disposal runs). */
        def selfContained: Boolean =
          left == 0 && top == 0 && w == sw && h == sh && transIdx < 0 &&
            disposal != 3
      }
      val metas = scala.collection.mutable.ArrayBuffer[FM]()
      var pos = start
      var stop = false
      while (!stop) {
        val (p2, disp, tIdx) = gifExtensionsWithGce(b, pos)
        if (p2 >= b.length || (b(p2) & 0xFF) != 0x2C || p2 + 10 > b.length) stop = true
        else {
          val left = bb.getShort(p2 + 1) & 0xFFFF
          val top = bb.getShort(p2 + 3) & 0xFFFF
          val w = bb.getShort(p2 + 5) & 0xFFFF
          val h = bb.getShort(p2 + 7) & 0xFFFF
          if (w <= 0 || h <= 0 || left + w > sw || top + h > sh) stop = true
          else {
            val next = gifSkipImage(b, p2)
            if (next < 0) stop = true
            else { metas += FM(p2, left, top, w, h, disp, tIdx); pos = next }
          }
        }
      }
      val n = metas.length
      if (n == 0) None
      else {
        val k = math.min(sampleFrames, n)
        val sampledIdx = (0 until k).map(i => i * n / k)
        val sampledSet = sampledIdx.toSet
        val needed = sampledIdx.flatMap { fi =>
          var j = fi
          while (j > 0 && !metas(j).selfContained) j -= 1
          j to fi
        }.toSet
        def lumaOf(rgb: Int): Int =
          (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) + 114 * (rgb & 0xFF)) / 1000
        val bgLuma =
          if (globalTable != null && bgIndex < globalTable.length) lumaOf(globalTable(bgIndex))
          else 0
        val canvas = Array.fill(sw * sh)(bgLuma)
        var prevSnapshot: Array[Int] = null
        val outFrames = scala.collection.mutable.ArrayBuffer[(Int, Array[Int])]()
        var f = 0
        var bad = false
        while (f < n && !bad && outFrames.length < k) {
          if (needed(f)) {
            val m = metas(f)
            gifImageIndices(b, m.imgPos, globalTable) match {
              case None => bad = true
              case Some((_, _, w, h, idx, table, _)) =>
                if (m.disposal == 3) { // snapshot the pre-frame canvas
                  if (prevSnapshot == null) prevSnapshot = new Array[Int](sw * sh)
                  System.arraycopy(canvas, 0, prevSnapshot, 0, canvas.length)
                }
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    val ix = idx(y * w + x)
                    if (ix != m.transIdx)
                      canvas((m.top + y) * sw + (m.left + x)) = lumaOf(table(ix))
                    x += 1
                  }
                  y += 1
                }
                if (sampledSet(f)) outFrames += ((f, canvas.clone()))
                m.disposal match {
                  case 2 => // restore the rect to background
                    var yy = 0
                    while (yy < h) {
                      var xx = 0
                      while (xx < w) {
                        canvas((m.top + yy) * sw + (m.left + xx)) = bgLuma
                        xx += 1
                      }
                      yy += 1
                    }
                  case 3 =>
                    if (prevSnapshot != null)
                      System.arraycopy(prevSnapshot, 0, canvas, 0, canvas.length)
                  case _ => ()
                }
            }
          }
          f += 1
        }
        if (outFrames.isEmpty) None else Some((sw, sh, outFrames.toSeq))
      }
    }

  /** JPEG zigzag order: zigzag index → natural (row-major) index. */
  private val JpegZigzag = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** The DCT basis cos((2x+1)uπ/16), indexed (x)(u), and its C(u) scale —
    * shared by the decoder's IDCT and the fixture encoders' forward DCT. */
  private val DctCos = Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16.0))
  private val DctC = Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)

  /** A DHT table with its canonical code boundaries per length (T.81
    * F.2.2.3 DECODE). */
  private final class JpegHuff(val counts: Array[Int], val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k; minCode(l) = code
        code += counts(l - 1); k += counts(l - 1)
        maxCode(l) = code - 1
        code <<= 1
        l += 1
      }
    }
  }

  /** Entropy-coded segment reader from `pos`: MSB-first bits with FF00
    * unstuffing; a real marker ends the data (`pos` then stays on its FF).
    * Every read returns -1 once the data is exhausted. */
  private final class JpegBits(b: Array[Byte], var pos: Int) {
    private var buf = 0
    private var cnt = 0
    var hitMarker = false

    def bit(): Int = {
      if (cnt == 0) {
        if (hitMarker || pos >= b.length) return -1
        val v = b(pos) & 0xFF
        if (v == 0xFF) {
          if (pos + 1 >= b.length) return -1
          if ((b(pos + 1) & 0xFF) == 0x00) pos += 2 // stuffed FF
          else { hitMarker = true; return -1 }
        } else pos += 1
        buf = v; cnt = 8
      }
      cnt -= 1
      (buf >> cnt) & 1
    }

    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { val x = bit(); if (x < 0) return -1; v = (v << 1) | x; i += 1 }
      v
    }

    def huff(t: JpegHuff): Int = {
      if (t == null) return -1
      var code = bit()
      if (code < 0) return -1
      var l = 1
      while (l <= 16) {
        if (t.counts(l - 1) > 0 && code <= t.maxCode(l)) {
          val idx = t.valPtr(l) + code - t.minCode(l)
          if (idx >= t.vals.length) return -1
          return t.vals(idx)
        }
        val x = bit()
        if (x < 0) return -1
        code = (code << 1) | x
        l += 1
      }
      -1
    }

    /** Between restart intervals: drop the pad bits and consume the RSTn
      * that must follow (`pos` is on its FF whether or not `bit` saw it). */
    def restart(): Boolean = {
      cnt = 0; hitMarker = false
      if (pos + 1 >= b.length || (b(pos) & 0xFF) != 0xFF) return false
      val m = b(pos + 1) & 0xFF
      if (m < 0xD0 || m > 0xD7) return false
      pos += 2
      true
    }
  }

  /** T.81 F.2.2.1 EXTEND: the `t`-bit magnitude `v` as a signed value. */
  private def jpegExtend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Separable double-precision IDCT of one natural-order 8×8 block,
    * level-shifted and clamped into `out`. */
  private def jpegIdct(coef: Array[Int], out: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var x = 0
    while (x < 8) { // rows: u -> x
      var v = 0
      while (v < 8) {
        var s = 0.0; var u = 0
        while (u < 8) { s += DctC(u) * coef(v * 8 + u) * DctCos(x)(u); u += 1 }
        tmp(v * 8 + x) = s * 0.5
        v += 1
      }
      x += 1
    }
    var y = 0
    while (y < 8) { // cols: v -> y
      var x2 = 0
      while (x2 < 8) {
        var s = 0.0; var v = 0
        while (v < 8) { s += DctC(v) * tmp(v * 8 + x2) * DctCos(y)(v); v += 1 }
        val p = math.round(s * 0.5).toInt + 128
        out(y * 8 + x2) = math.max(0, math.min(255, p))
        x2 += 1
      }
      y += 1
    }
  }

  /** Copy an 8×8 block to block position (bx, by) of a w×h plane, clipped
    * at the right and bottom edges. */
  private def placeBlock(px8: Array[Int], bx: Int, by: Int, w: Int, h: Int,
      plane: Array[Int]): Unit = {
    var yy = 0
    while (yy < 8) {
      val gy = by * 8 + yy
      if (gy < h) {
        var xx = 0
        while (xx < 8) {
          val gx = bx * 8 + xx
          if (gx < w) plane(gy * w + gx) = px8(yy * 8 + xx)
          xx += 1
        }
      }
      yy += 1
    }
  }

  /** REAL JPEG pixel decode, baseline (SOF0) and progressive (SOF2) — no
    * codec library, just the math the format is made of. One marker walk
    * reads DQT (8-bit tables), DHT (canonical Huffman), the frame header,
    * DRI and each SOS; both modes share the bit reader (FF00 unstuffing,
    * RSTn restarts that byte-align and reset the DC predictors), the
    * dequantization through the zigzag, and one separable double-precision
    * IDCT with level shift and clamp. Output is the LUMA plane: for
    * 3-component YCbCr the Y component IS BT.601 luma, so chroma is
    * entropy-decoded (the stream is serial) and never IDCT'd. The two
    * modes differ only in the entropy layer (T.81 Annex G):
    *
    *  - sequential: one interleaved scan, DC prediction + AC run-length
    *    per block; each luma block is IDCT'd as it is decoded, so no
    *    coefficient plane is kept. The scan ends the decode.
    *  - progressive: coefficients accumulate across scans in per-component
    *    planes and the IDCT runs once at EOI. DC scans (interleaved or
    *    single-component): the first pass (Ah=0) decodes diffs shifted
    *    left by Al, refinements (Ah>0) add one bit per block. AC scans are
    *    single-component: the first pass decodes the Ss..Se band with
    *    EOBRUN batching, refinement is the G.1.2.3 correction-bit walk
    *    (correction bits for nonzero history, ±1<<Al births, EOBRUN tails
    *    that still carry corrections). DHT/DQT/DRI may be redefined
    *    between scans; RSTn also resets the EOBRUN. Interleaved DC scans
    *    walk MCUs with each component's hi×vi blocks at its T.81 A.2.4
    *    PADDED stride; non-interleaved scans walk the component's own
    *    raster. Chroma coefficients are STORED (refinement correction bits
    *    branch on coefficient history).
    *
    * Scope: 8-bit precision, 1 or 3 components, Y sampling up to 2×2 with
    * 1×1 chroma (the 4:4:4/4:2:2/4:2:0 layouts web JPEGs ship); extended,
    * lossless, arithmetic-coded and 12-bit variants return None — scoped,
    * not silently wrong. So does a progressive scan with Ss=0 and Se≠0
    * (T.81 B.2.3: DC and AC never share a progressive scan). Corrupt
    * input (bad Huffman codes, truncated entropy data, missing tables)
    * returns None, never a task failure. DC-only streams (constant 8×8
    * blocks) decode bit-exactly — the property the oracle fixtures use;
    * general AC content carries the usual ±1 float-IDCT rounding, which
    * perceptual hashing absorbs. */
  private[graft] def decodeJpegGray(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return None
    val qt = new Array[Array[Int]](4) // quant tables, zigzag order
    val huff = Array.ofDim[JpegHuff](2, 4) // (class 0 dc / 1 ac)(id)
    var sof = 0 // the frame's SOFn marker once read: 0xC0 or 0xC2
    var w = 0; var h = 0; var nComp = 0
    var compId: Array[Int] = null; var compQ: Array[Int] = null
    var compH: Array[Int] = null; var compV: Array[Int] = null
    var mcusX = 0; var mcusY = 0
    var restartInterval = 0
    // progressive only: per-component coefficient planes (natural order)
    // at the PADDED block stride interleaved MCUs address (T.81 A.2.4),
    // and the raster block dims non-interleaved scans walk
    var coefs: Array[Array[Int]] = null
    var cBw: Array[Int] = null; var cBh: Array[Int] = null; var padBw: Array[Int] = null
    var pos = 2
    while (true) {
      if (pos + 2 > b.length || (b(pos) & 0xFF) != 0xFF) return None
      val m = b(pos + 1) & 0xFF
      if (m == 0xD8 || (m >= 0xD0 && m <= 0xD7) || m == 0x01) pos += 2 // standalone
      else if (m == 0xD9) { // EOI: completes a progressive frame; before a scan it is an error
        return if (sof == 0xC2) progressiveLuma(w, h, coefs(0), padBw(0), qt(compQ(0))) else None
      } else {
        if (pos + 4 > b.length) return None
        val len = ((b(pos + 2) & 0xFF) << 8) | (b(pos + 3) & 0xFF)
        if (len < 2 || pos + 2 + len > b.length) return None
        val seg = pos + 4
        val segEnd = pos + 2 + len
        pos = segEnd
        m match {
          case 0xDB => // DQT
            var p = seg
            while (p < segEnd) {
              val pq = (b(p) & 0xFF) >> 4; val tq = b(p) & 0x0F
              if (pq != 0 || tq > 3 || p + 65 > segEnd) return None // 8-bit tables only
              qt(tq) = Array.tabulate(64)(i => b(p + 1 + i) & 0xFF)
              p += 65
            }
          case 0xC4 => // DHT
            var p = seg
            while (p < segEnd) {
              val tc = (b(p) & 0xFF) >> 4; val th = b(p) & 0x0F
              if (tc > 1 || th > 3 || p + 17 > segEnd) return None
              val counts = Array.tabulate(16)(i => b(p + 1 + i) & 0xFF)
              val n = counts.sum
              if (p + 17 + n > segEnd || n > 256) return None
              huff(tc)(th) = new JpegHuff(counts, Array.tabulate(n)(i => b(p + 17 + i) & 0xFF))
              p += 17 + n
            }
          case 0xC0 | 0xC2 => // SOF0 baseline / SOF2 progressive
            // a progressive frame header is the only one; a sequential one
            // may be restated before its scan (the last one counts)
            if (sof == 0xC2 || (sof == 0xC0 && m == 0xC2) || b(seg) != 8) return None
            h = ((b(seg + 1) & 0xFF) << 8) | (b(seg + 2) & 0xFF)
            w = ((b(seg + 3) & 0xFF) << 8) | (b(seg + 4) & 0xFF)
            nComp = b(seg + 5) & 0xFF
            if (w <= 0 || h <= 0 || (nComp != 1 && nComp != 3) ||
                w.toLong * h > (1L << 28)) return None
            compId = new Array[Int](nComp); compQ = new Array[Int](nComp)
            compH = new Array[Int](nComp); compV = new Array[Int](nComp)
            var c = 0
            while (c < nComp) {
              compId(c) = b(seg + 6 + c * 3) & 0xFF
              val hv = b(seg + 7 + c * 3) & 0xFF
              compH(c) = hv >> 4; compV(c) = hv & 0x0F
              // luma up to 2x2; chroma must be 1x1 (4:4:4 / 4:2:2 / 4:2:0)
              if (c == 0) {
                if (compH(0) < 1 || compH(0) > 2 || compV(0) < 1 || compV(0) > 2) return None
              } else if (hv != 0x11) return None
              compQ(c) = b(seg + 8 + c * 3) & 0xFF
              if (compQ(c) > 3) return None // quant table ids are 0-3
              c += 1
            }
            mcusX = (w + 8 * compH(0) - 1) / (8 * compH(0))
            mcusY = (h + 8 * compV(0) - 1) / (8 * compV(0))
            if (m == 0xC2) {
              // chroma raster dims collapse to the MCU grid (its pixel
              // dims are ceil(w/h0) × ceil(h/v0), one block per MCU)
              cBw = Array.tabulate(nComp)(c => if (c == 0) (w + 7) / 8 else mcusX)
              cBh = Array.tabulate(nComp)(c => if (c == 0) (h + 7) / 8 else mcusY)
              padBw = Array.tabulate(nComp)(c => mcusX * compH(c))
              coefs = Array.tabulate(nComp)(c => new Array[Int](padBw(c) * mcusY * compV(c) * 64))
            }
            sof = m
          case 0xC1 | 0xC3 | 0xC5 | 0xC6 | 0xC7 |
               0xC9 | 0xCA | 0xCB | 0xCD | 0xCE | 0xCF =>
            return None // extended/lossless/arithmetic: scoped out
          case 0xDD => // DRI
            restartInterval = ((b(seg) & 0xFF) << 8) | (b(seg + 1) & 0xFF)
          case 0xDA => // SOS
            if (sof == 0) return None
            val ns = b(seg) & 0xFF
            // a sequential frame is one interleaved scan of every component
            if (if (sof == 0xC0) ns != nComp else ns < 1 || ns > nComp) return None
            val scanComp = Array.tabulate(ns) { i =>
              val ci = compId.indexOf(b(seg + 1 + i * 2) & 0xFF)
              val tbl = b(seg + 2 + i * 2) & 0xFF
              if (ci < 0 || (tbl >> 4) > 3 || (tbl & 0x0F) > 3) return None
              (ci, tbl >> 4, tbl & 0x0F)
            }
            val in = new JpegBits(b, segEnd)
            if (sof == 0xC0) {
              // ---- sequential: the whole image in this scan ----
              val luma = new Array[Int](w * h)
              val pred = new Array[Int](nComp)
              val coef = new Array[Int](64)
              val px8 = new Array[Int](64)
              var mcu = 0
              while (mcu < mcusX * mcusY) {
                if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
                  if (!in.restart()) return None
                  java.util.Arrays.fill(pred, 0)
                }
                val mx = mcu % mcusX; val my = mcu / mcusX
                var sc = 0
                while (sc < ns) {
                  val (ci, dcT, acT) = scanComp(sc)
                  val blocks = if (ci == 0) compH(0) * compV(0) else 1
                  var blk = 0
                  while (blk < blocks) {
                    java.util.Arrays.fill(coef, 0)
                    val q = qt(compQ(ci))
                    if (q == null) return None
                    // DC
                    val t = in.huff(huff(0)(dcT))
                    if (t < 0 || t > 11) return None
                    val diffBits = in.bits(t)
                    if (diffBits < 0) return None
                    pred(ci) += jpegExtend(diffBits, t)
                    coef(0) = pred(ci) * q(0)
                    // AC
                    var k = 1
                    var eob = false
                    while (k < 64 && !eob) {
                      val rs = in.huff(huff(1)(acT))
                      if (rs < 0) return None
                      if (rs == 0) eob = true
                      else if (rs == 0xF0) k += 16
                      else {
                        k += rs >> 4
                        val s = rs & 15
                        if (k > 63) return None
                        val vb = in.bits(s)
                        if (vb < 0) return None
                        coef(JpegZigzag(k)) = jpegExtend(vb, s) * q(k)
                        k += 1
                      }
                    }
                    if (ci == 0) { // blocks raster within the MCU
                      jpegIdct(coef, px8)
                      placeBlock(px8, mx * compH(0) + blk % compH(0),
                        my * compV(0) + blk / compH(0), w, h, luma)
                    }
                    blk += 1
                  }
                  sc += 1
                }
                mcu += 1
              }
              return Some((w, h, luma))
            }
            // ---- progressive: one scan's refinement of the planes ----
            val ss = b(seg + 1 + ns * 2) & 0xFF
            val se = b(seg + 2 + ns * 2) & 0xFF
            val ahAl = b(seg + 3 + ns * 2) & 0xFF
            val ah = ahAl >> 4; val al = ahAl & 0x0F
            if (ss > se || se > 63) return None
            if (ss == 0 && se != 0) return None // T.81 B.2.3: Se = 0 when Ss = 0
            if (ss > 0 && ns != 1) return None // AC scans are single-component
            val pred = new Array[Int](nComp)
            var eobrun = 0
            // one DC coefficient (first pass or refinement) at `base`
            def dcOne(ci: Int, dcT: Int, base: Int): Boolean = {
              if (ah == 0) {
                val t = in.huff(huff(0)(dcT))
                if (t < 0 || t > 11) return false
                val bits = in.bits(t)
                if (bits < 0) return false
                pred(ci) += jpegExtend(bits, t)
                coefs(ci)(base) = pred(ci) << al
              } else {
                val bit = in.bit()
                if (bit < 0) return false
                if (bit == 1) coefs(ci)(base) |= 1 << al
              }
              true
            }
            if (ss == 0 && ns > 1) {
              // ---- interleaved DC scan: MCU walk, each component
              // contributing its hi×vi blocks at the PADDED stride ----
              var mcu = 0
              while (mcu < mcusX * mcusY) {
                if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
                  if (!in.restart()) return None
                  java.util.Arrays.fill(pred, 0)
                }
                val mx = mcu % mcusX; val my = mcu / mcusX
                var sc = 0
                while (sc < ns) {
                  val (ci, dcT, _) = scanComp(sc)
                  var vb = 0
                  while (vb < compV(ci)) {
                    var hb = 0
                    while (hb < compH(ci)) {
                      val base = ((my * compV(ci) + vb) * padBw(ci) +
                        (mx * compH(ci) + hb)) * 64
                      if (!dcOne(ci, dcT, base)) return None
                      hb += 1
                    }
                    vb += 1
                  }
                  sc += 1
                }
                mcu += 1
              }
            } else {
              // ---- single-component scan (DC, or any AC): the
              // component's own raster, addressed at the padded stride ----
              val (ci, dcT, acT) = scanComp(0)
              val cf = coefs(ci)
              var blk = 0
              val total = cBw(ci) * cBh(ci)
              while (blk < total) {
                if (restartInterval > 0 && blk > 0 && blk % restartInterval == 0) {
                  if (!in.restart()) return None
                  java.util.Arrays.fill(pred, 0)
                  eobrun = 0
                }
                val base = ((blk / cBw(ci)) * padBw(ci) + blk % cBw(ci)) * 64
                if (ss == 0) {
                  if (!dcOne(ci, dcT, base)) return None
                } else if (ah == 0) {
                  // first AC pass with EOBRUN batching
                  if (eobrun > 0) eobrun -= 1
                  else {
                    var k = ss
                    var done = false
                    while (k <= se && !done) {
                      val rs = in.huff(huff(1)(acT))
                      if (rs < 0) return None
                      val r = rs >> 4; val s = rs & 15
                      if (s == 0) {
                        if (r < 15) {
                          val extra = in.bits(r)
                          if (extra < 0) return None
                          eobrun = (1 << r) + extra - 1
                          done = true
                        } else k += 16 // ZRL
                      } else {
                        k += r
                        if (k > se) return None
                        val vb = in.bits(s)
                        if (vb < 0) return None
                        cf(base + JpegZigzag(k)) = jpegExtend(vb, s) << al
                        k += 1
                      }
                    }
                  }
                } else {
                  // AC refinement (T.81 G.1.2.3)
                  val p1 = 1 << al
                  val m1 = -1 << al
                  var k = ss
                  if (eobrun == 0) {
                    var done = false
                    while (k <= se && !done) {
                      val rs = in.huff(huff(1)(acT))
                      if (rs < 0) return None
                      var r = rs >> 4; val s = rs & 15
                      var newVal = 0
                      if (s == 0) {
                        if (r < 15) {
                          val extra = in.bits(r)
                          if (extra < 0) return None
                          eobrun = (1 << r) + extra
                          done = true
                        }
                        // r == 15: ZRL — skip 16 zero-history coefs below
                      } else {
                        if (s != 1) return None // refinement births are ±1
                        val sign = in.bit()
                        if (sign < 0) return None
                        newVal = if (sign == 1) p1 else m1
                      }
                      if (!done) {
                        // advance over the band: correction bits for
                        // nonzero history, count down r zero-history slots
                        var placed = false
                        while (k <= se && !placed) {
                          val z = base + JpegZigzag(k)
                          if (cf(z) != 0) {
                            val bit = in.bit()
                            if (bit < 0) return None
                            if (bit == 1 && (cf(z) & p1) == 0)
                              cf(z) += (if (cf(z) >= 0) p1 else m1)
                          } else {
                            if (r == 0) {
                              if (newVal != 0) cf(z) = newVal
                              placed = true
                            } else r -= 1
                          }
                          k += 1
                        }
                        if (!placed && newVal != 0) return None // band overflow
                      }
                    }
                  }
                  if (eobrun > 0) {
                    // EOB tail: correction bits for every remaining
                    // nonzero coefficient in the band
                    while (k <= se) {
                      val z = base + JpegZigzag(k)
                      if (cf(z) != 0) {
                        val bit = in.bit()
                        if (bit < 0) return None
                        if (bit == 1 && (cf(z) & p1) == 0)
                          cf(z) += (if (cf(z) >= 0) p1 else m1)
                      }
                      k += 1
                    }
                    eobrun -= 1
                  }
                }
                blk += 1
              }
            }
            // skip any pad bits: the walk continues at the next marker
            // (RSTn inside the scan were consumed by `restart`)
            while (!in.hitMarker) {
              if (in.pos >= b.length) return None
              if ((b(in.pos) & 0xFF) == 0xFF && in.pos + 1 < b.length &&
                  (b(in.pos + 1) & 0xFF) != 0x00) in.hitMarker = true
              else in.pos += 1
            }
            pos = in.pos
          case _ => () // APPn / COM / others: skip
        }
      }
    }
    None
  }

  /** The progressive frame's luma plane at EOI: every raster block of the
    * coefficient plane (at its padded stride) dequantized, IDCT'd and
    * placed. */
  private def progressiveLuma(w: Int, h: Int, cf: Array[Int], stride: Int,
      q: Array[Int]): Option[(Int, Int, Array[Int])] = {
    if (q == null) return None
    val bw = (w + 7) / 8; val bh = (h + 7) / 8
    val luma = new Array[Int](w * h)
    val block = new Array[Int](64)
    val px8 = new Array[Int](64)
    var blk = 0
    while (blk < bw * bh) {
      val cfBase = ((blk / bw) * stride + blk % bw) * 64
      var i = 0
      while (i < 64) { block(JpegZigzag(i)) = cf(cfBase + JpegZigzag(i)) * q(i); i += 1 }
      jpegIdct(block, px8)
      placeBlock(px8, blk % bw, blk / bw, w, h, luma)
      blk += 1
    }
    Some((w, h, luma))
  }

  /** JPEG SOFn scan: walk the marker segments from SOI to the first start-
    * of-frame (C0–CF minus DHT C4 / JPG C8 / DAC CC) and read the frame
    * height/width (big-endian, after the 1-byte precision). Stops cleanly —
    * never throws — on SOS/EOI-before-SOF, fill bytes, standalone markers,
    * and malformed lengths: corrupt headers are normal scraped input. */
  private[graft] def parseJpeg(b: Array[Byte]): Option[(Int, Int)] = {
    if (b == null || b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return None
    val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
    var pos = 2
    while (pos + 2 <= b.length) {
      if ((b(pos) & 0xFF) != 0xFF) return None
      var marker = b(pos + 1) & 0xFF
      while (marker == 0xFF && pos + 2 < b.length) { pos += 1; marker = b(pos + 1) & 0xFF }
      if (marker == 0xD9 || marker == 0xDA) return None // EOI / scan data before any SOF
      if ((marker >= 0xD0 && marker <= 0xD7) || marker == 0x01) pos += 2 // standalone, no length
      else {
        if (pos + 4 > b.length) return None
        val segLen = bb.getShort(pos + 2) & 0xFFFF
        if (segLen < 2) return None
        val isSof = marker >= 0xC0 && marker <= 0xCF &&
          marker != 0xC4 && marker != 0xC8 && marker != 0xCC
        if (isSof) {
          if (pos + 9 > b.length) return None
          val w = bb.getShort(pos + 7) & 0xFFFF
          val h = bb.getShort(pos + 5) & 0xFFFF
          // height 0 = DNL-deferred (rare) — treat as undecodable, like a
          // zero width
          return if (w > 0 && h > 0) Some((w, h)) else None
        }
        pos += 2 + segLen
      }
    }
    None
  }

  /** RIFF/WAVE PCM: walks the word-aligned chunk list for 'fmt ' (channels,
    * sample rate, bits/sample, block align) and 'data' (payload size);
    * n_samples = data size / block align. Tolerates a truncated payload —
    * only the declared sizes are read, never the samples. */
  /** RIFF/WAVE `LIST INFO` tag extraction (round 13): the fourth tag
    * family [[audioTags]] collapses — INAM/IART/IPRD sub-chunks map to
    * TITLE/ARTIST/ALBUM, values NUL-terminated Latin-1 per the RIFF
    * registry, odd chunk bodies padded. Advisory posture. */
  private[graft] def wavInfoTags(b: Array[Byte]): Map[String, String] = {
    if (b == null || b.length < 12 ||
      !(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return Map.empty
    try {
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      val keyOf = Map("INAM" -> "TITLE", "IART" -> "ARTIST", "IPRD" -> "ALBUM")
      val out = scala.collection.mutable.LinkedHashMap[String, String]()
      var pos = 12
      var stop = false
      while (!stop && pos + 8 <= b.length) {
        val id = new String(b, pos, 4, "US-ASCII")
        val len = bb.getInt(pos + 4).toLong & 0xFFFFFFFFL
        if (pos + 8 + len > b.length) stop = true
        else {
          if (id == "LIST" && len >= 4 &&
              new String(b, pos + 8, 4, "US-ASCII") == "INFO") {
            var q = pos + 12
            val end = pos + 8 + len.toInt
            while (q + 8 <= end) {
              val sid = new String(b, q, 4, "US-ASCII")
              val slen = bb.getInt(q + 4).toLong & 0xFFFFFFFFL
              if (q + 8 + slen > end) { q = end }
              else {
                keyOf.get(sid).foreach { key =>
                  var l = slen.toInt
                  while (l > 0 && b(q + 8 + l - 1) == 0) l -= 1 // strip NULs
                  out(key) = new String(b, q + 8, l, "ISO-8859-1")
                }
                q += 8 + slen.toInt + (slen & 1L).toInt
              }
            }
          }
          pos += 8 + len.toInt + (len & 1L).toInt
        }
      }
      out.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** Append a `LIST INFO` tag chunk to a RIFF/WAVE file (the fixture
    * side of [[wavInfoTags]]): sub-chunks NUL-terminated, odd bodies
    * padded, the outer RIFF size patched. */
  def withWavInfo(wav: Array[Byte], tags: Seq[(String, String)]): Array[Byte] = {
    require(wav.length >= 12 && wav(0) == 'R' && wav(8) == 'W')
    val info = new java.io.ByteArrayOutputStream()
    info.write("INFO".getBytes("US-ASCII"), 0, 4)
    tags.foreach { case (k, v) =>
      require(k.length == 4)
      val vb = v.getBytes("ISO-8859-1") :+ 0.toByte
      info.write(k.getBytes("US-ASCII"), 0, 4)
      val l = vb.length
      info.write(l & 0xFF); info.write((l >> 8) & 0xFF)
      info.write((l >> 16) & 0xFF); info.write((l >> 24) & 0xFF)
      info.write(vb, 0, l)
      if (l % 2 == 1) info.write(0)
    }
    val payload = info.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(wav, 0, wav.length)
    out.write("LIST".getBytes("US-ASCII"), 0, 4)
    val pl = payload.length
    out.write(pl & 0xFF); out.write((pl >> 8) & 0xFF)
    out.write((pl >> 16) & 0xFF); out.write((pl >> 24) & 0xFF)
    out.write(payload, 0, pl)
    val res = out.toByteArray
    val riffLen = res.length - 8
    res(4) = (riffLen & 0xFF).toByte; res(5) = ((riffLen >> 8) & 0xFF).toByte
    res(6) = ((riffLen >> 16) & 0xFF).toByte; res(7) = ((riffLen >> 24) & 0xFF).toByte
    res
  }

  private[graft] def parseWav(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (b == null || b.length < 12) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var rate = 0
    var channels = 0
    var blockAlign = 0
    var bits = 0
    var dataLen = -1L
    while (pos + 8 <= b.length && (rate == 0 || dataLen < 0)) {
      val id = new String(b, pos, 4, "US-ASCII")
      val sz = bb.getInt(pos + 4).toLong & 0xFFFFFFFFL
      if (id == "fmt " && pos + 24 <= b.length) {
        channels = bb.getShort(pos + 10)
        rate = bb.getInt(pos + 12)
        blockAlign = bb.getShort(pos + 20)
        bits = bb.getShort(pos + 22)
      } else if (id == "data") dataLen = sz
      // advance in LONG arithmetic and require forward progress: a
      // malformed size field (0xFFFFFFF8 → step 0, or near-2^31 → int
      // overflow to a negative pos) must end the walk, not hang the task
      // or index out of bounds — corrupt headers are normal scraped input
      val next = pos.toLong + 8L + sz + (sz & 1L) // chunks are word-aligned
      pos = if (next <= pos || next > Int.MaxValue) b.length else next.toInt
    }
    if (rate > 0 && channels > 0 && blockAlign > 0 && dataLen >= 0)
      Some((rate, channels, bits, dataLen / blockAlign))
    else None
  }

  // ---- real pixel decoders (uncompressed formats only — the honest
  //      in-container scope; codec formats remain the documented stub) ----

  /** 24-bpp uncompressed BMP → row-major grayscale. Real decode: pixel
    * array offset from the file header (int32-LE at byte 10), BGR triplets,
    * rows padded to 4-byte stride, BOTTOM-UP row order unless height is
    * negative (top-down). Luma is the integer BT.601 weighting
    * (299·R + 587·G + 114·B) / 1000 — all-integer so the perceptual hash
    * downstream replays bit-exact in any engine. Returns None for
    * non-24bpp, compressed (BI_RLE/BI_BITFIELDS), or truncated input —
    * corrupt scrapes are normal input, never a job failure. */
  /** The full non-RLE BMP family → row-major grayscale luma: 1/4/8-bit
    * palettized (packed indices through the BGRA colour table — the
    * ubiquitous scraped-web form), 24-bpp BGR, and 32-bpp BGRX / BI_
    * BITFIELDS (channel masks at their fixed post-header offsets, which
    * V4/V5 headers share; arbitrary masks handled by shift+rescale).
    * BITMAPINFOHEADER and the larger V4/V5 variants all keep these
    * field offsets — plus 16-bpp (X1R5G5B5 default or BITFIELDS masks,
    * rescaled through the same channel math) and the BI_RLE8/BI_RLE4
    * run-length streams (repeat runs — nibble-alternating for RLE4 —
    * absolute runs, EOL/EOB/delta escapes) — plus the 12-byte OS/2
    * BITMAPCOREHEADER family with its 3-byte palette
    * ([[decodeBmpCore]]). The documented BMP layout space is COVERED;
    * anything else (JPEG/PNG-embedded compression tags) returns None. All size arithmetic in LONG: `w * bpp`
    * Int-wrap on a crafted header must reject, never allocate
    * (the r11 corrupt-input guard class). */
  private[graft] def decodeBmpGray(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 26 || b(0) != 'B' || b(1) != 'M') return None
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val dataOff = bb.getInt(10)
    val hdrSize = bb.getInt(14)
    if (hdrSize == 12) return decodeBmpCore(b) // OS/2 BITMAPCOREHEADER
    if (b.length < 54) return None
    val w = bb.getInt(18)
    val rawH = bb.getInt(22)
    // abs(Int.MinValue) IS Int.MinValue — it would pass an `h == 0`
    // guard and crash the allocation below; reject it by name
    if (rawH == Int.MinValue) return None
    val h = math.abs(rawH)
    val topDown = rawH < 0
    val bpp = bb.getShort(28).toInt
    val compression = bb.getInt(30)
    if (w <= 0 || h == 0 || hdrSize < 40) return None
    val okFormat = (bpp, compression) match {
      case (1 | 4 | 8 | 24, 0) => true
      case (16 | 32, 0) => true // 16-bpp BI_RGB defaults to 555
      case (16 | 32, 3) => true // BI_BITFIELDS
      case (8, 1) => true // BI_RLE8
      case (4, 2) => true // BI_RLE4
      case _ => false
    }
    if (!okFormat) return None
    // palette for the indexed forms: BGRA entries right after the header
    val luts: Array[Int] =
      if (bpp <= 8) {
        val clrUsed = bb.getInt(46)
        val n = if (clrUsed > 0 && clrUsed <= (1 << bpp)) clrUsed else 1 << bpp
        val palOff = 14 + hdrSize
        if (palOff.toLong + 4L * n > b.length) return None
        Array.tabulate(1 << bpp) { i =>
          if (i < n) {
            val p = palOff + i * 4
            (299 * (b(p + 2) & 0xFF) + 587 * (b(p + 1) & 0xFF) + 114 * (b(p) & 0xFF)) / 1000
          } else 0
        }
      } else null
    // BI_BITFIELDS masks sit at bytes 54..65 for BITMAPINFOHEADER
    // (immediately after it) AND for V4/V5 (embedded at the same offset)
    var (rMask, gMask, bMask) =
      if (bpp == 16) (0x7C00, 0x03E0, 0x001F) // BI_RGB 16-bpp = X1R5G5B5
      else (0x00FF0000, 0x0000FF00, 0x000000FF)
    if (compression == 3) {
      if (b.length < 66) return None
      rMask = bb.getInt(54); gMask = bb.getInt(58); bMask = bb.getInt(62)
      if (rMask == 0 || gMask == 0 || bMask == 0) return None
      if (bpp == 16 && ((rMask | gMask | bMask) & ~0xFFFF) != 0) return None
    }
    def chan(px: Int, mask: Int): Int = {
      val shift = java.lang.Integer.numberOfTrailingZeros(mask)
      val maxv = mask >>> shift
      if (maxv == 0) 0 else ((px & mask) >>> shift) * 255 / maxv
    }
    if (w.toLong * h > (1L << 28)) return None // 256M px sanity cap
    if (compression == 1 || compression == 2) {
      // BI_RLE8 / BI_RLE4 (always bottom-up): (m, c) repeats index c m
      // times (RLE4: c carries TWO alternating nibbles); escapes
      // (0, 0)=end-of-line, (0, 1)=end-of-bitmap, (0, 2)=delta (skipped
      // cells keep index 0), (0, n>=3)=n absolute indices (RLE4: packed
      // two per byte), word-padded. Truncated/overflowing streams
      // return None.
      val rle4 = compression == 2
      if (dataOff < 54 || dataOff >= b.length || topDown) return None
      val out = new Array[Int](w * h)
      java.util.Arrays.fill(out, luts(0))
      var p = dataOff
      var x = 0
      var row = 0 // bottom-up row counter
      var done = false
      while (!done) {
        if (p + 2 > b.length) return None
        val m = b(p) & 0xFF
        val c = b(p + 1) & 0xFF
        p += 2
        if (m > 0) {
          // row bound checked at write time so a trailing EOL before the
          // EOB (row counter == h with nothing left to paint) stays legal
          if (row >= h || x + m > w) return None
          val y = h - 1 - row
          var k = 0
          while (k < m) {
            val idx = if (!rle4) c else if ((k & 1) == 0) c >> 4 else c & 0x0F
            out(y * w + x + k) = luts(idx)
            k += 1
          }
          x += m
        } else c match {
          case 0 => x = 0; row += 1
          case 1 => done = true
          case 2 =>
            if (p + 2 > b.length) return None
            x += b(p) & 0xFF; row += (b(p + 1) & 0xFF); p += 2
            if (x > w || row > h) return None
          case n =>
            val nBytes = if (rle4) (n + 1) / 2 else n
            if (row >= h || x + n > w || p + nBytes > b.length) return None
            val y = h - 1 - row
            var k = 0
            while (k < n) {
              val idx =
                if (!rle4) b(p + k) & 0xFF
                else if ((k & 1) == 0) (b(p + (k >> 1)) & 0xFF) >> 4
                else b(p + (k >> 1)) & 0x0F
              out(y * w + x + k) = luts(idx)
              k += 1
            }
            x += n; p += nBytes + (nBytes & 1) // word-aligned
        }
      }
      return Some((w, h, out))
    }
    // stride in LONG: `w * bpp` overflows Int for crafted widths, and a
    // wrapped tiny stride would let a ~60-byte file pass the bounds
    // check into a multi-GB allocation / out-of-bounds walk
    val stride = ((w.toLong * bpp + 31) / 32) * 4
    if (dataOff < 54 || dataOff.toLong + stride * h > b.length) return None
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      val rowOff = dataOff + (srcRow * stride).toInt
      var x = 0
      while (x < w) {
        out(y * w + x) = bpp match {
          case 1 => luts(((b(rowOff + (x >> 3)) >> (7 - (x & 7))) & 1))
          case 4 =>
            val v = b(rowOff + (x >> 1)) & 0xFF
            luts(if ((x & 1) == 0) v >> 4 else v & 0x0F)
          case 8 => luts(b(rowOff + x) & 0xFF)
          case 24 =>
            val p = rowOff + x * 3
            (299 * (b(p + 2) & 0xFF) + 587 * (b(p + 1) & 0xFF) + 114 * (b(p) & 0xFF)) / 1000
          case 16 =>
            val px = bb.getShort(rowOff + x * 2) & 0xFFFF
            (299 * chan(px, rMask) + 587 * chan(px, gMask) + 114 * chan(px, bMask)) / 1000
          case _ =>
            val px = bb.getInt(rowOff + x * 4)
            (299 * chan(px, rMask) + 587 * chan(px, gMask) + 114 * chan(px, bMask)) / 1000
        }
        x += 1
      }
      y += 1
    }
    Some((w, h, out))
  }

  /** OS/2 BITMAPCOREHEADER (the 12-byte "version 2" DIB that closes the
    * BMP layout space): u16 width/height at 18/20 (always bottom-up —
    * the core header has no sign convention), u16 bpp at 24, and a
    * 3-byte-BGR palette (not the 4-byte BGRA of the Windows headers)
    * at offset 26 for the 1/4/8-bit indexed forms; 24-bpp is raw BGR.
    * No compression field exists. Same bounds discipline as the main
    * decoder: all size math in Long, truncation → None. */
  private def decodeBmpCore(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val dataOff = bb.getInt(10)
    val w = bb.getShort(18) & 0xFFFF
    val h = bb.getShort(20) & 0xFFFF
    val bpp = bb.getShort(24) & 0xFFFF
    if (w == 0 || h == 0 || w.toLong * h > (1L << 28)) return None
    if (bpp != 1 && bpp != 4 && bpp != 8 && bpp != 24) return None
    val luts: Array[Int] =
      if (bpp <= 8) {
        val n = 1 << bpp
        if (26L + 3L * n > b.length) return None
        Array.tabulate(n) { i =>
          val p = 26 + i * 3
          (299 * (b(p + 2) & 0xFF) + 587 * (b(p + 1) & 0xFF) + 114 * (b(p) & 0xFF)) / 1000
        }
      } else null
    val stride = (((w.toLong * bpp + 7) / 8 + 3) / 4 * 4)
    if (dataOff < 26 || dataOff.toLong + stride * h > b.length) return None
    val out = new Array[Int](w * h)
    var sy = 0
    while (sy < h) {
      val dy = h - 1 - sy // bottom-up, unconditionally
      val rowOff = dataOff + sy * stride.toInt
      var x = 0
      while (x < w) {
        out(dy * w + x) =
          if (bpp == 24) {
            val p = rowOff + x * 3
            (299 * (b(p + 2) & 0xFF) + 587 * (b(p + 1) & 0xFF) + 114 * (b(p) & 0xFF)) / 1000
          } else {
            val bitPos = x * bpp
            val byte = b(rowOff + (bitPos >> 3)) & 0xFF
            val idx = bpp match {
              case 8 => byte
              case 4 => (byte >> (4 - (bitPos & 4))) & 0xF
              case _ => (byte >> (7 - (bitPos & 7))) & 1
            }
            luts(idx)
          }
        x += 1
      }
      sy += 1
    }
    Some((w, h, out))
  }

  /** A real OS/2 core BMP (12-byte BITMAPCOREHEADER): 8-bit grayscale
    * palette (3-byte triplets, entry i = (i,i,i)) or raw 24-bpp BGR. */
  def syntheticBmpCore(width: Int, height: Int, gray: Array[Int],
      palettized: Boolean = true): Array[Byte] = {
    require(width > 0 && height > 0 && gray.length == width * height)
    val bpp = if (palettized) 8 else 24
    val palBytes = if (palettized) 3 * 256 else 0
    val stride = ((width * bpp / 8) + 3) / 4 * 4
    val dataOff = 14 + 12 + palBytes
    val bb = ByteBuffer.allocate(dataOff + stride * height).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(bb.capacity).putInt(0).putInt(dataOff)
    bb.putInt(12).putShort(width.toShort).putShort(height.toShort)
    bb.putShort(1).putShort(bpp.toShort)
    if (palettized) {
      var i = 0
      while (i < 256) { bb.put(i.toByte).put(i.toByte).put(i.toByte); i += 1 }
    }
    var sy = 0
    while (sy < height) {
      val y = height - 1 - sy // bottom-up
      val rowStart = bb.position()
      var x = 0
      while (x < width) {
        val v = (gray(y * width + x) & 0xFF).toByte
        if (palettized) bb.put(v) else { bb.put(v); bb.put(v); bb.put(v) }
        x += 1
      }
      while (bb.position() < rowStart + stride) bb.put(0.toByte)
      sy += 1
    }
    bb.array()
  }

  /** The COMPLETE PNM family (P1–P6, maxval ≤ 255) → row-major grayscale,
    * same integer luma as [[decodeBmpGray]]:
    *
    *  - P5/P6 (binary graymap/pixmap): raster bytes directly — the
    *    original scope;
    *  - P2/P3 (ASCII graymap/pixmap): whitespace-separated decimal
    *    samples through the same comment-aware tokenizer as the header;
    *  - P4 (binary bitmap): MSB-first packed bits, rows byte-padded,
    *    1 = black (luma 0), 0 = white (255) per spec;
    *  - P1 (ASCII bitmap): '0'/'1' digits, which the spec allows to be
    *    ADJACENT with no separating whitespace — read per character.
    *
    * 16-bit maxval still returns None — scoped, not silently wrong. */
  private[graft] def decodePnmGray(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 2 || b(0) != 'P' || b(1) < '1' || b(1) > '6') return None
    val kind = b(1) - '0'
    var i = 2
    def nextInt(): Option[Int] = {
      var in = false
      var v = 0
      while (i < b.length) {
        val c = b(i).toChar
        if (!in && c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else if (c.isDigit) { in = true; v = v * 10 + (c - '0'); i += 1 }
        else if (in) return Some(v)
        else if (c.isWhitespace) i += 1
        else return None
      }
      if (in) Some(v) else None
    }
    def dims(): Option[(Int, Int)] = (nextInt(), nextInt()) match {
      case (Some(w), Some(h)) if w > 0 && h > 0 && w.toLong * h <= (1L << 28) => Some((w, h))
      case _ => None
    }
    kind match {
      case 1 => // ASCII bitmap — digits may be adjacent
        dims().flatMap { case (w, h) =>
          val out = new Array[Int](w * h)
          var px = 0
          while (px < w * h && i < b.length) {
            val c = b(i).toChar
            if (c == '0') { out(px) = 255; px += 1 }
            else if (c == '1') { out(px) = 0; px += 1 }
            else if (c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
            else if (!c.isWhitespace) return None
            i += 1
          }
          if (px == w * h) Some((w, h, out)) else None
        }
      case 4 => // binary bitmap — MSB-first packed, rows byte-padded
        dims().flatMap { case (w, h) =>
          i += 1 // single whitespace before the raster
          val rowBytes = (w + 7) / 8
          if (i.toLong + rowBytes.toLong * h > b.length) return None
          val out = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val bit = (b(i + y * rowBytes + (x >> 3)) >> (7 - (x & 7))) & 1
              out(y * w + x) = if (bit == 1) 0 else 255
              x += 1
            }
            y += 1
          }
          Some((w, h, out))
        }
      case 2 | 3 => // ASCII graymap / pixmap
        val rgb = kind == 3
        (dims(), nextInt()) match {
          case (Some((w, h)), Some(maxv)) if maxv > 0 && maxv <= 255 =>
            val out = new Array[Int](w * h)
            var px = 0
            while (px < w * h) {
              if (rgb) {
                (nextInt(), nextInt(), nextInt()) match {
                  case (Some(r), Some(g), Some(bl))
                      if r <= maxv && g <= maxv && bl <= maxv =>
                    out(px) = (299 * r + 587 * g + 114 * bl) / 1000
                  case _ => return None
                }
              } else nextInt() match {
                case Some(v) if v <= maxv => out(px) = v
                case _ => return None
              }
              px += 1
            }
            Some((w, h, out))
          case _ => None
        }
      case _ => // P5 / P6 binary
        val p6 = kind == 6
        (dims(), nextInt()) match {
          case (Some((w, h)), Some(maxv)) if maxv > 0 && maxv <= 255 =>
            i += 1 // exactly ONE whitespace byte separates maxval from raster (spec)
            val bpp = if (p6) 3 else 1
            if (i.toLong + w.toLong * h * bpp > b.length) return None
            val out = new Array[Int](w * h)
            var px = 0
            while (px < w * h) {
              val p = i + px * bpp
              out(px) =
                if (p6) (299 * (b(p) & 0xFF) + 587 * (b(p + 1) & 0xFF) + 114 * (b(p + 2) & 0xFF)) / 1000
                else b(p) & 0xFF
              px += 1
            }
            Some((w, h, out))
          case _ => None
        }
    }
  }

  /** PCM/float WAV → mono samples NORMALIZED to the int16 range. Real
    * decode: the [[parseWav]] chunk walk extended to return the data
    * payload. Sample encodings (all little-endian):
    *
    *  - format 1 (PCM) at 16 bits — int16 verbatim;
    *  - format 1 at 8 bits — unsigned byte, `(v − 128) << 8`;
    *  - format 1 at 24/32 bits — top 16 bits (`>> 8` / `>> 16`);
    *  - format 3 (IEEE float) at 32 bits — `round(clamp(f, ±1)·32767)`;
    *  - formats 6/7 (G.711 A-law/μ-law, the telephony WAVs) at 8 bits —
    *    each coded byte expands by its closed-form integer law
    *    ([[alaw2linear]]/[[ulaw2linear]], shared with the AU path);
    *  - format 0xFFFE (WAVE_FORMAT_EXTENSIBLE) — dispatched on the
    *    SubFormat GUID's leading code (1 = PCM, 3 = float, 6/7 = G.711),
    *    same rules.
    *
    * Normalizing every width into the int16 range makes the envelope
    * hash COMPARABLE ACROSS ENCODINGS — a waveform re-exported at a
    * different bit depth is the audio re-encode near-dup case, and it
    * lands on the same (or ±1-bit for lossy 8-bit) fingerprint.
    * Multi-channel frames downmix by integer average (sum / channels,
    * truncating toward zero like every other integer op here).
    * Format 0x11 (IMA/DVI ADPCM, 4-bit) decodes through the stateful
    * block walk in [[decodeImaAdpcm]]; format 2 (Microsoft ADPCM) through
    * the two-tap predictive walk in [[decodeMsAdpcm]]; other compressed
    * WAV (MP3-in-WAV) returns None — scoped, not silently wrong. A
    * declared data size past the buffer truncates to the bytes actually
    * present (scraped audio is routinely cut off mid-payload). */
  private[graft] def decodeWavPcm(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 12) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var rate = 0
    var channels = 0
    var bits = 0
    var fmt = 0
    var blockAlign = 0
    var dataOff = -1
    var dataLen = 0L
    while (pos + 8 <= b.length && (rate == 0 || dataOff < 0)) {
      val id = new String(b, pos, 4, "US-ASCII")
      val sz = bb.getInt(pos + 4).toLong & 0xFFFFFFFFL
      if (id == "fmt " && pos + 24 <= b.length) {
        fmt = bb.getShort(pos + 8) & 0xFFFF
        channels = bb.getShort(pos + 10)
        rate = bb.getInt(pos + 12)
        blockAlign = bb.getShort(pos + 20) & 0xFFFF
        bits = bb.getShort(pos + 22)
        if (fmt == 0xFFFE && pos + 8 + 26 <= b.length && sz >= 40) {
          // EXTENSIBLE: fmt data = fmt(2) ch(2) rate(4) brate(4) align(2)
          // bits(2) cbSize(2) validBits(2) mask(4) SubFormat GUID — whose
          // LEADING 2 bytes are the real format code (1 PCM / 3 float)
          fmt = bb.getShort(pos + 8 + 24) & 0xFFFF
        }
      } else if (id == "data") { dataOff = pos + 8; dataLen = sz }
      val next = pos.toLong + 8L + sz + (sz & 1L)
      pos = if (next <= pos || next > Int.MaxValue) b.length else next.toInt
    }
    if (fmt == 0x11) { // IMA/DVI ADPCM — stateful, block-structured
      if (bits != 4 || rate <= 0 || channels <= 0 || channels > 2 ||
          dataOff < 0 || blockAlign < 4 * channels) return None
      val avail = math.min(dataLen, (b.length - dataOff).toLong)
      return decodeImaAdpcm(b, dataOff, avail, channels, blockAlign)
        .map(s => (rate, channels, s))
    }
    if (fmt == 2) { // Microsoft ADPCM — two-tap predictor, adaptive delta
      if (bits != 4 || rate <= 0 || channels <= 0 || channels > 2 ||
          dataOff < 0 || blockAlign < 7 * channels) return None
      val avail = math.min(dataLen, (b.length - dataOff).toLong)
      return decodeMsAdpcm(b, dataOff, avail, channels, blockAlign)
        .map(s => (rate, channels, s))
    }
    val bytesPer =
      if (fmt == 1 && (bits == 8 || bits == 16 || bits == 24 || bits == 32)) bits / 8
      else if (fmt == 3 && bits == 32) 4
      else if ((fmt == 6 || fmt == 7) && bits == 8) 1
      else return None
    if (rate <= 0 || channels <= 0 || dataOff < 0) return None
    val avail = math.min(dataLen, (b.length - dataOff).toLong)
    val nFrames = (avail / (bytesPer.toLong * channels)).toInt
    val out = new Array[Int](nFrames)
    var i = 0
    while (i < nFrames) {
      var sum = 0
      var c = 0
      while (c < channels) {
        val p = dataOff + (i * channels + c) * bytesPer
        sum += (if (fmt == 3) {
          val f = java.lang.Float.intBitsToFloat(bb.getInt(p))
          if (f.isNaN) 0
          else math.round(math.max(-1.0f, math.min(1.0f, f)) * 32767.0f)
        } else if (fmt == 6) alaw2linear(b(p))
        else if (fmt == 7) ulaw2linear(b(p))
        else bytesPer match {
          case 1 => ((b(p) & 0xFF) - 128) << 8
          case 2 => bb.getShort(p).toInt
          case 3 => ((b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8) | (b(p + 2) << 16)) >> 8
          case _ => bb.getInt(p) >> 16
        })
        c += 1
      }
      out(i) = sum / channels
      i += 1
    }
    Some((rate, channels, out))
  }

  /** The canonical IMA ADPCM step-size table (89 entries) and nibble →
    * index-delta table, from the IMA Digital Audio Pack recommended
    * practices (1992) — fixed constants every implementation shares. */
  private[graft] val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private[graft] val ImaIndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA nibble through the decoder state: returns the new
    * (predictor, stepIndex). The difference is the shift-add expansion
    * diff = (step >> 3) + bit2·step + bit1·(step >> 1) + bit0·(step >> 2)
    * (the integer form of ((2·mant + 1)·step) / 8), sign from bit 3;
    * predictor clamps to int16, index to [0, 88]. Pure integer — a
    * recursive SQL oracle replays the walk state for state. */
  @inline private def imaStep(pred: Int, idx: Int, nibble: Int): (Int, Int) = {
    val step = ImaStepTable(idx)
    var diff = step >> 3
    if ((nibble & 4) != 0) diff += step
    if ((nibble & 2) != 0) diff += step >> 1
    if ((nibble & 1) != 0) diff += step >> 2
    val p = if ((nibble & 8) != 0) pred - diff else pred + diff
    val pc = math.max(-32768, math.min(32767, p))
    val ic = math.max(0, math.min(88, idx + ImaIndexTable(nibble)))
    (pc, ic)
  }

  /** IMA/DVI ADPCM data payload → mono int16 samples. Block-structured:
    * every `blockAlign` bytes start fresh with a 4-byte-per-channel
    * header (int16 seed predictor — emitted as the block's first sample
    * — uint8 step index, reserved byte), then 4-bit nibbles LOW-first,
    * stereo interleaved in 4-byte-per-channel groups (8 nibbles L, 8
    * nibbles R, ...). A partial tail block decodes the nibbles actually
    * present; stereo frames downmix (l + r) / channels like every other
    * decoder here. ~4:1 compression with data-dependent state — the
    * one decoder in the family whose oracle needs a RECURSIVE walk, not
    * a per-sample closed form. */
  private def decodeImaAdpcm(b: Array[Byte], dataOff: Int, avail: Long,
      channels: Int, blockAlign: Int): Option[Array[Int]] = {
    val hdr = 4 * channels
    val end = dataOff + avail.toInt
    val samplesPerFull = 1 + (blockAlign - hdr) * 2 / channels
    val nBlocks = ((avail + blockAlign - 1) / blockAlign).toInt
    if (nBlocks <= 0) return None
    val outBuf = new Array[Int](nBlocks * samplesPerFull)
    var n = 0
    val pred = new Array[Int](channels)
    val idx = new Array[Int](channels)
    var blockOff = dataOff
    while (blockOff + hdr <= end) {
      var c = 0
      var seedSum = 0
      while (c < channels) {
        val p = blockOff + 4 * c
        pred(c) = ((b(p) & 0xFF) | (b(p + 1) << 8)).toShort.toInt
        idx(c) = math.max(0, math.min(88, b(p + 2) & 0xFF))
        seedSum += pred(c)
        c += 1
      }
      outBuf(n) = seedSum / channels; n += 1
      val dataEnd = math.min(blockOff + blockAlign, end)
      var p = blockOff + hdr
      if (channels == 1) {
        while (p < dataEnd) {
          val byte = b(p) & 0xFF
          val (p1, i1) = imaStep(pred(0), idx(0), byte & 0xF)
          outBuf(n) = p1; n += 1
          val (p2, i2) = imaStep(p1, i1, byte >> 4)
          outBuf(n) = p2; n += 1
          pred(0) = p2; idx(0) = i2
          p += 1
        }
      } else {
        // stereo: alternating 4-byte groups; a frame needs BOTH
        // channels, so decode group-pairs into a small lane buffer
        val lane = Array.ofDim[Int](2, 8)
        while (p + 8 <= dataEnd) {
          var c2 = 0
          while (c2 < 2) {
            var k = 0
            while (k < 4) {
              val byte = b(p + 4 * c2 + k) & 0xFF
              val (p1, i1) = imaStep(pred(c2), idx(c2), byte & 0xF)
              val (p2, i2) = imaStep(p1, i1, byte >> 4)
              lane(c2)(2 * k) = p1; lane(c2)(2 * k + 1) = p2
              pred(c2) = p2; idx(c2) = i2
              k += 1
            }
            c2 += 1
          }
          var s = 0
          while (s < 8) { outBuf(n) = (lane(0)(s) + lane(1)(s)) / 2; n += 1; s += 1 }
          p += 8
        }
      }
      blockOff += blockAlign
    }
    if (n == 0) None else Some(java.util.Arrays.copyOf(outBuf, n))
  }

  /** A real IMA ADPCM WAV from int16 samples (mono or interleaved
    * stereo): the standard encoder — seed each block's header with the
    * running predictor/index, quantize each delta through the same
    * shift-subtract ladder the decoder's shift-add expansion mirrors,
    * update state THROUGH THE DECODER's step so encoder and decoder
    * predictors never drift. fmt chunk is the 20-byte form (cbSize = 2,
    * wSamplesPerBlock) plus a fact chunk, as writers emit in the wild. */
  def syntheticWavAdpcm(sampleRate: Int, channels: Int, samples: Array[Int],
      blockAlign: Int = 256): Array[Byte] = {
    require(channels == 1 || channels == 2)
    require(blockAlign % (4 * channels) == 0 && blockAlign >= 8 * channels)
    val hdr = 4 * channels
    val spb = 1 + (blockAlign - hdr) * 2 / channels // samples/block/channel
    val nFrames = samples.length / channels
    val nBlocks = (nFrames + spb - 1) / spb
    val dataLen = nBlocks * blockAlign
    val b = ByteBuffer.allocate(20 + 20 + 12 + 8 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(12 + 20 + 12 + 8 + dataLen)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(20)
    b.putShort(0x11).putShort(channels.toShort).putInt(sampleRate)
    b.putInt(sampleRate * blockAlign / spb).putShort(blockAlign.toShort).putShort(4)
    b.putShort(2).putShort(spb.toShort)
    b.put("fact".getBytes("US-ASCII")).putInt(4).putInt(nFrames)
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    val pred = new Array[Int](channels)
    val idx = new Array[Int](channels)
    var f = 0 // frame index of the current block's seed
    var block = 0
    while (block < nBlocks) {
      // block header: seed = the exact next sample, so the first output
      // matches it and the nibble chain starts from true state; frames
      // past the input encode a hold-at-predictor tail (silence-shaped
      // padding the decoder dutifully reproduces)
      var c = 0
      while (c < channels) {
        val seed = if (f < nFrames) samples(f * channels + c) else pred(c)
        pred(c) = math.max(-32768, math.min(32767, seed))
        b.putShort(pred(c).toShort).put(idx(c).toByte).put(0.toByte)
        c += 1
      }
      var s = 1 // per-channel sample index within the block
      if (channels == 1) {
        while (s < spb) {
          var byte = 0
          var half = 0
          while (half < 2) {
            val fi = f + s + half
            val want = if (fi < nFrames) samples(fi) else pred(0)
            val nib = imaEncodeNibble(pred(0), idx(0), want)
            val st = imaStep(pred(0), idx(0), nib)
            pred(0) = st._1; idx(0) = st._2
            byte |= nib << (4 * half)
            half += 1
          }
          b.put(byte.toByte)
          s += 2
        }
      } else {
        while (s < spb) { // 8 frames per channel per 16-byte group
          var c2 = 0
          while (c2 < 2) {
            var k = 0
            var byte = 0
            while (k < 8) {
              val fi = f + s + k
              val want = if (fi < nFrames) samples(fi * 2 + c2) else pred(c2)
              val nib = imaEncodeNibble(pred(c2), idx(c2), want)
              val st = imaStep(pred(c2), idx(c2), nib)
              pred(c2) = st._1; idx(c2) = st._2
              if (k % 2 == 0) byte = nib
              else { b.put((byte | (nib << 4)).toByte); byte = 0 }
              k += 1
            }
            c2 += 1
          }
          s += 8
        }
      }
      f += spb
      block += 1
    }
    b.array()
  }

  /** Choose the 4-bit code whose shift-add expansion lands nearest the
    * wanted delta: the standard trial-subtraction ladder (bit 2 = step,
    * bit 1 = step/2, bit 0 = step/4), sign in bit 3. */
  @inline private def imaEncodeNibble(pred: Int, idx: Int, want: Int): Int = {
    val step = ImaStepTable(idx)
    var delta = want - pred
    var nib = 0
    if (delta < 0) { nib = 8; delta = -delta }
    if (delta >= step) { nib |= 4; delta -= step }
    if (delta >= (step >> 1)) { nib |= 2; delta -= step >> 1 }
    if (delta >= (step >> 2)) { nib |= 1 }
    nib
  }

  /** A G.711-query-style IMA ADPCM fixture: ONE mono block whose 4-byte
    * header carries the given seed predictor/index and whose nibble
    * payload is the CODED bytes verbatim — the decoder's recursive
    * state walk is the thing under test, and a WITH RECURSIVE oracle
    * replays it state for state. */
  def syntheticWavAdpcmCoded(sampleRate: Int, seedPred: Int, seedIdx: Int,
      data: Array[Byte]): Array[Byte] = {
    val blockAlign = 4 + data.length
    val spb = 1 + data.length * 2
    val b = ByteBuffer.allocate(20 + 20 + 8 + blockAlign).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(12 + 20 + 8 + blockAlign)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(20)
    b.putShort(0x11).putShort(1).putInt(sampleRate)
    b.putInt(sampleRate * blockAlign / spb).putShort(blockAlign.toShort).putShort(4)
    b.putShort(2).putShort(spb.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(blockAlign)
    b.putShort(seedPred.toShort).put(seedIdx.toByte).put(0.toByte)
    b.put(data)
    b.array()
  }

  /** Microsoft ADPCM's fixed tables: the seven two-tap predictor
    * coefficient pairs (8.8 fixed point) and the 16-entry delta
    * adaptation table — constants from the WAVE format registry every
    * implementation shares. */
  private[graft] val MsAdaptCoeff1: Array[Int] =
    Array(256, 512, 0, 192, 240, 460, 392)
  private[graft] val MsAdaptCoeff2: Array[Int] =
    Array(0, -256, 0, 64, 0, -208, -232)
  private[graft] val MsAdaptTable: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614, 768, 614, 512, 409, 307,
    230, 230, 230)

  /** Upper clamp on the MS-ADPCM adaptive delta. The spec gives delta
    * only a FLOOR (16); with no ceiling, a crafted nibble stream of
    * uniform random codes grows delta by a ~1.35×/step geometric mean
    * (the adapt table's mean ratio over 256) and silently wraps Int
    * within ~100 steps. No real encoder emits such a stream — delta
    * tracks signal amplitude, and 0x7FFF·8 already lets a single
    * nibble traverse the entire int16 range — so the clamp changes
    * nothing for well-formed audio while making hostile bytes safe.
    * The SQL oracle replays the same LEAST(). */
  private[graft] val MsDeltaMax: Int = 0x7FFF * 8

  /** One MS-ADPCM nibble through the decoder state: returns the new
    * (samp1, samp2, delta). The predictor is the two-tap fixed-point
    * form `(s1·c1 + s2·c2) >> 8` — an ARITHMETIC shift, i.e. FLOOR
    * division by 256 (the SQL oracle must restate it with a mod-fixup,
    * DuckDB's `//` truncates toward zero); the nibble is a SIGNED
    * 4-bit multiplier on the adaptive delta, and the delta scales by
    * `adapt[nibble] >> 8` with a floor of 16 and the [[MsDeltaMax]]
    * ceiling. Pure integer. */
  @inline private def msStep(s1: Int, s2: Int, delta: Int, c1: Int, c2: Int,
      nibble: Int): (Int, Int, Int) = {
    val pred = (s1 * c1 + s2 * c2) >> 8
    val signed = if (nibble >= 8) nibble - 16 else nibble
    val samp = math.max(-32768, math.min(32767, pred + signed * delta))
    val d = math.max(16, math.min(MsDeltaMax, (MsAdaptTable(nibble) * delta) >> 8))
    (samp, s1, d)
  }

  /** MS-ADPCM data payload → mono int16 samples. Block-structured with a
    * RICHER header than IMA: per channel a predictor index (0–6 into the
    * coefficient pairs), an int16 seed delta, and the two priming
    * samples iSamp1/iSamp2 — which are emitted OLDEST FIRST (samp2 then
    * samp1) before the nibble chain. Header layout interleaves by FIELD
    * (all predictors, all deltas, all samp1s, all samp2s), nibbles are
    * HIGH-first (the opposite of IMA), and stereo packs one L/R frame
    * per byte. A predictor byte past 6 rejects the block (corrupt), a
    * seed delta below 16 clamps to the adaptation floor (encoders never
    * emit one), and a partial tail block decodes the nibbles actually
    * present. Like IMA this is the recursive-oracle case: three state
    * variables (samp1, samp2, delta) per channel, all data-dependent. */
  private def decodeMsAdpcm(b: Array[Byte], dataOff: Int, avail: Long,
      channels: Int, blockAlign: Int): Option[Array[Int]] = {
    val hdr = 7 * channels
    val end = dataOff + avail.toInt
    val framesPerFull = 2 + (blockAlign - hdr) * 2 / channels
    val nBlocks = ((avail + blockAlign - 1) / blockAlign).toInt
    if (nBlocks <= 0) return None
    val outBuf = new Array[Int](nBlocks * framesPerFull)
    var n = 0
    val s1 = new Array[Int](channels)
    val s2 = new Array[Int](channels)
    val dl = new Array[Int](channels)
    val c1 = new Array[Int](channels)
    val c2 = new Array[Int](channels)
    var blockOff = dataOff
    while (blockOff + hdr <= end) {
      var c = 0
      while (c < channels) {
        val bp = b(blockOff + c) & 0xFF
        if (bp > 6) return if (n == 0) None else Some(java.util.Arrays.copyOf(outBuf, n))
        c1(c) = MsAdaptCoeff1(bp); c2(c) = MsAdaptCoeff2(bp)
        val base = blockOff + channels
        dl(c) = math.max(16,
          ((b(base + 2 * c) & 0xFF) | (b(base + 2 * c + 1) << 8)).toShort.toInt)
        s1(c) = ((b(base + 2 * channels + 2 * c) & 0xFF) |
          (b(base + 2 * channels + 2 * c + 1) << 8)).toShort.toInt
        s2(c) = ((b(base + 4 * channels + 2 * c) & 0xFF) |
          (b(base + 4 * channels + 2 * c + 1) << 8)).toShort.toInt
        c += 1
      }
      // the two priming samples, oldest first, downmixed like the chain
      var sum2 = 0; var sum1 = 0
      c = 0
      while (c < channels) { sum2 += s2(c); sum1 += s1(c); c += 1 }
      outBuf(n) = sum2 / channels; n += 1
      outBuf(n) = sum1 / channels; n += 1
      val dataEnd = math.min(blockOff + blockAlign, end)
      var p = blockOff + hdr
      if (channels == 1) {
        while (p < dataEnd) {
          val byte = b(p) & 0xFF
          val r1 = msStep(s1(0), s2(0), dl(0), c1(0), c2(0), byte >> 4)
          outBuf(n) = r1._1; n += 1
          val r2 = msStep(r1._1, r1._2, r1._3, c1(0), c2(0), byte & 0xF)
          outBuf(n) = r2._1; n += 1
          s1(0) = r2._1; s2(0) = r2._2; dl(0) = r2._3
          p += 1
        }
      } else {
        while (p < dataEnd) { // one L/R frame per byte: L high, R low
          val byte = b(p) & 0xFF
          val rl = msStep(s1(0), s2(0), dl(0), c1(0), c2(0), byte >> 4)
          s1(0) = rl._1; s2(0) = rl._2; dl(0) = rl._3
          val rr = msStep(s1(1), s2(1), dl(1), c1(1), c2(1), byte & 0xF)
          s1(1) = rr._1; s2(1) = rr._2; dl(1) = rr._3
          outBuf(n) = (rl._1 + rr._1) / 2; n += 1
          p += 1
        }
      }
      blockOff += blockAlign
    }
    if (n == 0) None else Some(java.util.Arrays.copyOf(outBuf, n))
  }

  /** A real MS-ADPCM WAV from int16 samples (mono or interleaved
    * stereo): the standard encoder shape — each block seeds iSamp2/
    * iSamp1 from the first two frames, picks the quantizer code by
    * rounding `(want − pred) / delta` into the signed-4-bit range, and
    * updates state THROUGH THE DECODER's step so the two never drift.
    * Predictor pair 0 (pure one-tap, coeff 256/0) keeps the fixture
    * deterministic; the fmt chunk carries the full 32-byte extension
    * (wSamplesPerBlock, wNumCoef = 7, the seven registry pairs) exactly
    * as writers emit it. */
  def syntheticWavAdpcmMs(sampleRate: Int, channels: Int, samples: Array[Int],
      blockAlign: Int = 256): Array[Byte] = {
    require(channels == 1 || channels == 2)
    require(blockAlign >= 7 * channels + channels)
    val hdr = 7 * channels
    val spb = 2 + (blockAlign - hdr) * 2 / channels
    val nFrames = samples.length / channels
    val nBlocks = math.max(1, (nFrames + spb - 1) / spb)
    val dataLen = nBlocks * blockAlign
    val fmtLen = 18 + 32 // base + cbSize payload (spb, nCoef, 7 pairs)
    val b = ByteBuffer.allocate(20 + 8 + fmtLen + 12 + 8 + dataLen)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(12 + 8 + fmtLen + 12 + 8 + dataLen)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(fmtLen)
    b.putShort(2).putShort(channels.toShort).putInt(sampleRate)
    b.putInt(sampleRate * blockAlign / spb).putShort(blockAlign.toShort).putShort(4)
    b.putShort(32).putShort(spb.toShort).putShort(7)
    var ci = 0
    while (ci < 7) {
      b.putShort(MsAdaptCoeff1(ci).toShort).putShort(MsAdaptCoeff2(ci).toShort)
      ci += 1
    }
    b.put("fact".getBytes("US-ASCII")).putInt(4).putInt(nFrames)
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    def at(fi: Int, c: Int, fallback: Int): Int =
      if (fi < nFrames) samples(fi * channels + c) else fallback
    val s1 = new Array[Int](channels)
    val s2 = new Array[Int](channels)
    val dl = new Array[Int](channels)
    var f = 0
    var block = 0
    while (block < nBlocks) {
      var c = 0
      while (c < channels) {
        s2(c) = at(f, c, 0)
        s1(c) = at(f + 1, c, s2(c))
        dl(c) = 64 // a mid-range seed; adaptation converges within a few nibbles
        c += 1
      }
      c = 0
      while (c < channels) { b.put(0.toByte); c += 1 } // predictor 0 per channel
      c = 0
      while (c < channels) { b.putShort(dl(c).toShort); c += 1 }
      c = 0
      while (c < channels) { b.putShort(s1(c).toShort); c += 1 }
      c = 0
      while (c < channels) { b.putShort(s2(c).toShort); c += 1 }
      // one nibble through the shared quantize-then-decode step
      def encodeOne(ch: Int, want: Int): Int = {
        val pred = (s1(ch) * 256) >> 8 // predictor pair 0: c1 = 256, c2 = 0
        // round((want−pred)/dl) in pure integers: floor(x+1/2) =
        // floorDiv(2a+b, 2b) — same value as the float form, replayable
        val q = Math.floorDiv(2 * (want - pred) + dl(ch), 2 * dl(ch))
        val nib = (math.max(-8, math.min(7, q)) + 16) & 0xF
        val st = msStep(s1(ch), s2(ch), dl(ch), 256, 0, nib)
        s1(ch) = st._1; s2(ch) = st._2; dl(ch) = st._3
        nib
      }
      var s = 2 // frames 0/1 ride the header
      if (channels == 1) {
        while (s < spb) { // two mono samples per byte, HIGH nibble first
          val hi = encodeOne(0, at(f + s, 0, s1(0)))
          val lo = encodeOne(0, at(f + s + 1, 0, s1(0)))
          b.put(((hi << 4) | lo).toByte)
          s += 2
        }
      } else {
        while (s < spb) { // one L/R frame per byte: L high, R low
          val hi = encodeOne(0, at(f + s, 0, s1(0)))
          val lo = encodeOne(1, at(f + s, 1, s1(1)))
          b.put(((hi << 4) | lo).toByte)
          s += 1
        }
      }
      f += spb
      block += 1
    }
    b.array()
  }

  /** An MS-ADPCM fixture with CODED nibbles on the wire: ONE mono block
    * whose 7-byte header carries the given predictor index, seed delta,
    * and priming samples verbatim — the decoder's three-variable
    * recursive walk is the thing under test, and a WITH RECURSIVE
    * oracle replays (samp1, samp2, delta) state for state. */
  def syntheticWavAdpcmMsCoded(sampleRate: Int, bPred: Int, seedDelta: Int,
      samp1: Int, samp2: Int, data: Array[Byte]): Array[Byte] = {
    val blockAlign = 7 + data.length
    val spb = 2 + data.length * 2
    val b = ByteBuffer.allocate(20 + 20 + 8 + blockAlign).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(12 + 20 + 8 + blockAlign)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(18 + 2)
    b.putShort(2).putShort(1).putInt(sampleRate)
    b.putInt(sampleRate * blockAlign / spb).putShort(blockAlign.toShort).putShort(4)
    b.putShort(2).putShort(spb.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(blockAlign)
    b.put(bPred.toByte).putShort(seedDelta.toShort)
    b.putShort(samp1.toShort).putShort(samp2.toShort)
    b.put(data)
    b.array()
  }

  /** A TRACKING-ENCODER nibble stream for [[syntheticWavAdpcmMsCoded]]:
    * each nibble quantizes a target waveform sample against the
    * decoder's OWN state (advanced through [[msStep]], any predictor
    * pair), so the adaptive delta tracks the signal and stays bounded —
    * the property a raw formula-coded payload provably lacks here
    * (MS-ADPCM's delta has no spec ceiling and grows ~1.35×/step under
    * uniform nibbles, wrapping Int within ~100 steps; IMA was immune
    * because its step INDEX clamps to [0,88]). The quantizer is the
    * integer round `floorDiv(2·(want−pred)+dl, 2·dl)` so a SQL oracle
    * can replay encoder AND decoder in one recursive walk. Returns
    * `targets.length/2` bytes, two nibbles per byte HIGH first, plus
    * the per-step decoded-sample and delta traces so a spec can pin
    * the no-drift and bounded-delta properties exactly. */
  private[graft] def msAdpcmTrackingNibbles(bPred: Int, seedDelta: Int,
      samp1: Int, samp2: Int,
      targets: Array[Int]): (Array[Byte], Array[Int], Array[Int]) = {
    val c1 = MsAdaptCoeff1(bPred); val c2 = MsAdaptCoeff2(bPred)
    var s1 = samp1; var s2 = samp2; var dl = math.max(16, seedDelta)
    val out = new Array[Byte](targets.length / 2)
    val chain = new Array[Int](targets.length)
    val deltas = new Array[Int](targets.length)
    var k = 0
    while (k < targets.length) {
      val pred = (s1 * c1 + s2 * c2) >> 8
      val q = Math.floorDiv(2 * (targets(k) - pred) + dl, 2 * dl)
      val nib = (math.max(-8, math.min(7, q)) + 16) & 0xF
      val st = msStep(s1, s2, dl, c1, c2, nib)
      s1 = st._1; s2 = st._2; dl = st._3
      chain(k) = s1
      deltas(k) = dl
      if (k % 2 == 0) out(k / 2) = (nib << 4).toByte
      else out(k / 2) = (out(k / 2) | nib).toByte
      k += 1
    }
    (out, chain, deltas)
  }

  /** Energy-envelope difference hash for audio — the [[dHash64]] trick on
    * the time axis: split the mono samples into 65 equal frames (sample j
    * maps to frame ⌊j·65/n⌋ — the same replayable floor map as the image
    * cells), take each frame's integer mean ABSOLUTE amplitude, and set
    * bit i iff energy(i) > energy(i+1). 64 gradient-sign bits — invariant
    * to volume scaling direction-preserving edits and resampling that
    * keeps the envelope shape, the cheap first-pass audio near-dup key
    * (a content-level sibling of spectral fingerprints like Haitsma &
    * Kalker 2002, kept integer-only so any engine replays it bit-exact).
    * Requires ≥ 65 samples. */
  private[graft] def audioHash64(samples: Array[Int]): Option[Long] = {
    val n = samples.length
    if (n < 65) return None
    val sums = new Array[Long](65)
    val counts = new Array[Long](65)
    var j = 0
    while (j < n) {
      val f = math.min(j.toLong * 65 / n, 64).toInt
      sums(f) += math.abs(samples(j))
      counts(f) += 1
      j += 1
    }
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (sums(i) / counts(i) > sums(i + 1) / counts(i + 1)) hash |= 1L << i
      i += 1
    }
    Some(hash)
  }

  /** Batch PCM decode → audio fingerprint per record; non-PCM or
    * too-short audio yields ok = false (the [[imageDHash]] posture). */
  def audioEnvelopeHash(ds: Dataset[Media]): Dataset[ImageHash] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.map { m =>
      audioHashOf(m.media) match {
        case Some(h) => ImageHash(m.doc_id, h, ok = true)
        case None => ImageHash(m.doc_id, 0L, ok = false)
      }
    })
  }

  /** Audio near-duplicate pairs over the envelope hash — the same shared
    * banded Hamming machinery as [[imageNearDupPairs]], with the same
    * exact-recall cap and undecodable-passes-nothing contract. */
  def audioNearDupPairs(ds: Dataset[Media], maxHamming: Int = 2,
      maxBucket: Int = 500): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"exact recall holds only for maxHamming <= 3, got $maxHamming")
    Dedup.hammingPairs64(
      audioEnvelopeHash(ds).filter(col("ok")).toDF(),
      "doc_id", "dhash", maxHamming, maxBucket)
  }

  /** YUV4MPEG2 (.y4m) stream → (width, height, luma plane per frame).
    * Real decode of the one video container that needs no codec: an
    * ASCII header line (`YUV4MPEG2 W.. H.. F.. C..`), then per frame a
    * `FRAME`-prefixed line followed by raw planar YUV. The LUMA plane is
    * the grayscale the perceptual hash wants, read directly; chroma is
    * skipped by size. Scope: C420 family (the spec default — jpeg/mpeg2/
    * paldv tags included) and C444/Cmono; anything else, malformed
    * headers, or truncated frames return None / stop at the last whole
    * frame. */
  private[graft] def decodeY4mGray(b: Array[Byte]): Option[(Int, Int, Seq[Array[Int]])] =
    y4mScan(b).map { case (w, h, lumaLen, starts) =>
      (w, h, starts.toSeq.map(s => y4mLuma(b, s, lumaLen)))
    }

  /** Container walk WITHOUT materializing frames: validates the stream
    * header, strides over each FRAME's luma+chroma payload, and returns
    * (w, h, lumaLen, per-frame luma data-start offsets). This is the
    * shared first pass that lets the sampling decoders allocate planes
    * for ONLY the frames they hash — per-row memory proportional to
    * `sampleFrames`, not to video duration (a 2-hour clip sampled at 16
    * frames builds 16 planes, not ~200k). The offsets array itself is
    * 4 bytes/frame — negligible. Frame params after FRAME are skipped
    * per spec, so offsets are discovered, not computed. */
  private def y4mScan(b: Array[Byte]): Option[(Int, Int, Int, Array[Int])] = {
    val magic = "YUV4MPEG2 ".getBytes("US-ASCII")
    if (b == null || b.length < magic.length + 2) return None
    var i = 0
    while (i < magic.length) { if (b(i) != magic(i)) return None; i += 1 }
    var eol = i
    while (eol < b.length && b(eol) != '\n') eol += 1
    if (eol >= b.length) return None
    val header = new String(b, i, eol - i, "US-ASCII")
    var w = 0
    var h = 0
    var colour = "420" // spec default when no C tag present
    header.split(' ').foreach { tok =>
      if (tok.startsWith("W")) w = tok.drop(1).toIntOption.getOrElse(0)
      else if (tok.startsWith("H")) h = tok.drop(1).toIntOption.getOrElse(0)
      else if (tok.startsWith("C")) colour = tok.drop(1)
    }
    // dimension sanity in LONG arithmetic: a malformed header declaring
    // 65536x65536 would overflow w*h to 0, sail past the byte-bounds
    // check, and hand downstream hashing empty "frames" for a huge
    // declared grid — an out-of-bounds crash on corrupt input. A frame
    // cannot exceed the buffer anyway, so cap there.
    if (w <= 0 || h <= 0 || w.toLong * h > b.length) return None
    val lumaLen = w * h
    // the EXACT 8-bit tag set: a startsWith("420") would also admit the
    // high-bit-depth extensions (C420p10/p12), whose samples are TWO
    // bytes — the walk would mis-stride and the luma read garbage.
    // chromaLen in LONG: `2 * w * h` for C444 overflows Int once
    // w*h > 2^30 (the dimension guard only bounds w*h by b.length,
    // which reaches ~2^31) — a negative chromaLen would understate the
    // frame-size check and walk `pos` backward into negative indexing.
    val chromaLen: Long =
      if (colour == "420" || colour == "420jpeg" || colour == "420paldv" ||
          colour == "420mpeg2") 2L * ((w + 1) / 2) * ((h + 1) / 2)
      else if (colour == "422") 2L * ((w + 1) / 2) * h // half-width chroma
      else if (colour == "440") 2L * w * ((h + 1) / 2) // half-height chroma
      else if (colour == "444") 2L * w * h
      else if (colour == "mono") 0L
      else return None
    val starts = Array.newBuilder[Int]
    var pos = eol + 1
    var open = true
    while (open && pos + 5 <= b.length) {
      if (!(b(pos) == 'F' && b(pos + 1) == 'R' && b(pos + 2) == 'A' &&
          b(pos + 3) == 'M' && b(pos + 4) == 'E')) return None
      var fe = pos + 5
      while (fe < b.length && b(fe) != '\n') fe += 1 // frame params skipped
      val dataStart = fe + 1
      if (dataStart.toLong + lumaLen + chromaLen > b.length) open = false // truncated tail
      else {
        starts += dataStart
        pos = (dataStart.toLong + lumaLen + chromaLen).toInt
      }
    }
    val out = starts.result()
    if (out.isEmpty) None else Some((w, h, lumaLen, out))
  }

  /** Materialize ONE frame's luma plane from its scanned offset. */
  private def y4mLuma(b: Array[Byte], dataStart: Int, lumaLen: Int): Array[Int] = {
    val luma = new Array[Int](lumaLen)
    var j = 0
    while (j < lumaLen) { luma(j) = b(dataStart + j) & 0xFF; j += 1 }
    luma
  }

  /** Scan + decode ONLY the evenly-spaced sample frames: the i-th of k
    * samples is frame floor(i*n/k) — the same replayable floor map the
    * oracles and the streaming twin use. Returns (w, h, (frameIdx, luma)
    * per sampled frame). Allocation ∝ min(sampleFrames, n), never ∝ n. */
  private[graft] def decodeY4mGraySampled(b: Array[Byte], sampleFrames: Int)
      : Option[(Int, Int, Seq[(Int, Array[Int])])] =
    y4mScan(b).map { case (w, h, lumaLen, starts) =>
      val n = starts.length
      val k = math.min(sampleFrames, n)
      (w, h, (0 until k).map { i =>
        val fi = i * n / k
        (fi, y4mLuma(b, starts(fi), lumaLen))
      })
    }

  /** Per-frame perceptual hashes for a video — Y4M streams or animated
    * GIFs, dispatched on magic ([[videoFramesSampled]]): sample
    * `sampleFrames` evenly-spaced frames (all of them when the video is
    * shorter), [[dHash64]] each sampled luma plane. One output
    * row per sampled frame: (doc_id, frame_idx, dhash). Pure map stage —
    * video bytes never shuffle; the fanout is bounded by `sampleFrames`
    * regardless of video length, which is what makes the pair join's
    * row count corpus-bounded at 100 TB. Undecodable or sub-grid videos
    * produce no rows (pairing with nothing, the family posture). */
  def videoFrameHashes(ds: Dataset[Media], sampleFrames: Int = 16): DataFrame = {
    require(sampleFrames >= 1, "sampleFrames must be >= 1")
    val spark = ds.sparkSession
    import spark.implicits._
    ds.flatMap { m =>
      // sampled decode: only the floor(i*n/k)-indexed frames ever get a
      // luma plane — allocation ∝ sampleFrames, not video duration
      videoFramesSampled(m.media, sampleFrames) match {
        case Some((w, h, sampled)) =>
          sampled.iterator.flatMap { case (fi, luma) =>
            dHash64(w, h, luma).map(hsh => (m.doc_id, fi.toLong, hsh))
          }.toSeq
        case None => Seq.empty
      }
    }.toDF("doc_id", "frame_idx", "dhash")
  }

  /** Video near-duplicate pairs: two videos are near-dups when at least
    * `minShared` of their sampled frames carry IDENTICAL perceptual
    * hashes — re-encoded/re-containered copies and trims share most
    * frame hashes, unrelated footage shares none. Candidates come from
    * an equi-join on the frame hash itself (64 bits of content — a
    * shared value IS a near-identical frame); the blank-frame hot key
    * every video corpus has (black frames, title cards shared
    * corpus-wide) is capped by `maxBucket` exactly like the LSH bucket
    * caps, with recall riding the other sampled frames. Output:
    * (id_a, id_b, shared_frames). Shuffle shape: slim (id, hash) rows,
    * dedup to distinct hash per video first, one hash-keyed shuffle —
    * never an all-pairs comparison. */
  def videoNearDupPairs(ds: Dataset[Media], sampleFrames: Int = 16,
      minShared: Int = 8, maxBucket: Int = 500): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val hashes = videoFrameHashes(ds, sampleFrames)
      .select(col("doc_id"), col("dhash").as("__vh")).distinct()
    // blank-frame hot-key guard — the banded dedups' capBuckets posture
    // on the single hash key: count, drop oversized, join back (no sort)
    val sizes = hashes.groupBy("__vh").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
    val capped = hashes.join(sizes, Seq("__vh")).drop("__n")
    capped.select(col("doc_id").as("id_a"), col("__vh"))
      .join(capped.select(col("doc_id").as("id_b"), col("__vh")), Seq("__vh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minShared)
  }

  /** A real Y4M stream carrying the given luma planes (C420, chroma
    * filled neutral 128) — the video sibling of [[syntheticBmpPixels]]:
    * decode(build(frames)) must return the planes verbatim. */
  def syntheticY4m(width: Int, height: Int, frames: Seq[Array[Int]]): Array[Byte] = {
    require(frames.forall(_.length == width * height), "frames must be width*height")
    val chromaLen = 2 * ((width + 1) / 2) * ((height + 1) / 2)
    val head = s"YUV4MPEG2 W$width H$height F30:1 Ip A1:1 C420\n".getBytes("US-ASCII")
    val fm = "FRAME\n".getBytes("US-ASCII")
    val out = ByteBuffer.allocate(
      head.length + frames.size * (fm.length + width * height + chromaLen))
    out.put(head)
    frames.foreach { f =>
      out.put(fm)
      f.foreach(v => out.put((v & 0xFF).toByte))
      var c = 0
      while (c < chromaLen) { out.put(128.toByte); c += 1 }
    }
    out.array()
  }

  /** AIFF and AIFF-C (Apple's PCM container, EA-IFF-85 framing) →
    * (rate, channels, mono int16-range samples) — the
    * [[decodeWavPcm]] shape. FORM/AIFF|AIFC chunk walk: COMM carries
    * channels, frame count, sample width, and the sample rate as an
    * 80-bit IEEE extended float (decoded exactly for the integer rates
    * audio uses); AIFF-C's COMM additionally carries a compression
    * type — "NONE"/"twos" (big-endian PCM, the AIFF layout) and "sowt"
    * (BYTE-SWAPPED int16, the Mac OS X default rip format) decode;
    * lossy types (ima4, ulaw as AIFC, …) return None. SSND carries the
    * PCM behind offset/blockSize fields. Widths 8 (SIGNED, unlike
    * WAV's unsigned 8-bit) / 16 / 24 / 32 normalize to the int16 range
    * identically to the WAV path. Truncation-tolerant; non-AIFF →
    * None. */
  private[graft] def decodeAiffPcm(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 12) return None
    val isAifc = b.length >= 12 && b(8) == 'A' && b(9) == 'I' && b(10) == 'F' && b(11) == 'C'
    if (!(b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M' &&
        ((b(8) == 'A' && b(9) == 'I' && b(10) == 'F' && b(11) == 'F') || isAifc))) return None
    val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
    var pos = 12
    var rate = 0
    var channels = 0
    var bits = 0
    var nFramesDecl = 0L
    var dataOff = -1
    var dataLen = 0L
    var littleEndian = false
    var unsupportedComp = false
    while (pos + 8 <= b.length && (rate == 0 || dataOff < 0)) {
      val id = new String(b, pos, 4, "US-ASCII")
      val sz = bb.getInt(pos + 4).toLong & 0xFFFFFFFFL
      if (id == "COMM" && pos + 8 + 18 <= b.length) {
        channels = bb.getShort(pos + 8)
        nFramesDecl = bb.getInt(pos + 10).toLong & 0xFFFFFFFFL
        bits = bb.getShort(pos + 14)
        if (isAifc) {
          if (sz < 22 || pos + 8 + 22 > b.length) unsupportedComp = true
          else new String(b, pos + 26, 4, "US-ASCII") match {
            case "NONE" | "twos" => ()
            case "sowt" => littleEndian = true
            case _ => unsupportedComp = true // lossy AIFC codecs out of scope
          }
        }
        // 80-bit IEEE extended: 1 sign + 15 exponent + 64 mantissa
        // (explicit integer bit); rate = mant × 2^(exp − 16383 − 63)
        val e = bb.getShort(pos + 16) & 0x7FFF
        val mant = bb.getLong(pos + 18)
        val shift = e - 16383 - 63
        rate =
          if (e == 0 || mant == 0 || shift < -63 || shift > 0) 0 // sub-Hz or absurd
          else {
            val r = mant >>> -shift
            if (r > Int.MaxValue) 0 else r.toInt
          }
      } else if (id == "SSND" && pos + 16 <= b.length) {
        val off = bb.getInt(pos + 8) // extra alignment offset inside the chunk
        if (off >= 0) { dataOff = pos + 16 + off; dataLen = sz - 8 - off }
      }
      val next = pos.toLong + 8L + sz + (sz & 1L)
      pos = if (next <= pos || next > Int.MaxValue) b.length else next.toInt
    }
    if (rate <= 0 || channels <= 0 || dataOff < 0 || dataLen < 0 || unsupportedComp)
      return None
    if (littleEndian && bits != 16) return None // sowt is defined for int16
    val bytesPer = bits match { case 8 => 1; case 16 => 2; case 24 => 3; case 32 => 4; case _ => return None }
    val avail = math.min(dataLen, (b.length - dataOff).toLong)
    val nFrames = math.min(avail / (bytesPer.toLong * channels), nFramesDecl).toInt
    if (nFrames <= 0) return None
    val out = new Array[Int](nFrames)
    var i = 0
    while (i < nFrames) {
      var sum = 0
      var c = 0
      while (c < channels) {
        val p = dataOff + (i * channels + c) * bytesPer
        sum += (bytesPer match {
          case 1 => b(p) << 8 // AIFF 8-bit is signed
          case 2 =>
            if (littleEndian) ((b(p) & 0xFF) | (b(p + 1) << 8)).toShort.toInt
            else bb.getShort(p).toInt
          case 3 => ((b(p) << 16) | ((b(p + 1) & 0xFF) << 8) | (b(p + 2) & 0xFF)) >> 8
          case _ => bb.getInt(p) >> 16
        })
        c += 1
      }
      out(i) = sum / channels
      i += 1
    }
    Some((rate, channels, out))
  }

  /** Sun AU (.snd): 24-byte big-endian header (magic, data offset, data
    * size, encoding, rate, channels) then samples. Encodings: 1 = G.711
    * μ-law (each byte expands by the closed-form integer law
    * 132·(2^e − 1) + m·2^(e+3), sign-magnitude — exactly replayable in
    * any engine), 27 = G.711 A-law (xor 0x55, then (m·16+8) for the
    * linear segment else (m·16+264)·2^(e−1) — equally closed-form),
    * 2/3/4/5 = signed big-endian PCM at 8/16/24/32 bits.
    * Same downmix/width normalization as the WAV path. */
  private[graft] def decodeAuPcm(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 24) return None
    if (!(b(0) == '.' && b(1) == 's' && b(2) == 'n' && b(3) == 'd')) return None
    val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
    val dataOff = bb.getInt(4)
    val dataSize = bb.getInt(8).toLong & 0xFFFFFFFFL // 0xFFFFFFFF = unknown
    val enc = bb.getInt(12)
    val rate = bb.getInt(16)
    val channels = bb.getInt(20)
    if (dataOff < 24 || dataOff > b.length || rate <= 0 || channels <= 0 ||
        channels > 64) return None
    val bytesPer = enc match { case 1 | 2 | 27 => 1; case 3 => 2; case 4 => 3; case 5 => 4; case _ => return None }
    val avail = math.min(dataSize, (b.length - dataOff).toLong)
    val nFrames = (avail / (bytesPer.toLong * channels)).toInt
    if (nFrames <= 0) return None
    val out = new Array[Int](nFrames)
    var i = 0
    while (i < nFrames) {
      var sum = 0
      var c = 0
      while (c < channels) {
        val p = dataOff + (i * channels + c) * bytesPer
        sum += (enc match {
          case 1 => ulaw2linear(b(p))
          case 27 => alaw2linear(b(p))
          case 2 => b(p) << 8 // signed 8-bit
          case 3 => bb.getShort(p).toInt
          case 4 => ((b(p) << 16) | ((b(p + 1) & 0xFF) << 8) | (b(p + 2) & 0xFF)) >> 8
          case _ => bb.getInt(p) >> 16
        })
        c += 1
      }
      out(i) = sum / channels
      i += 1
    }
    Some((rate, channels, out))
  }

  /** Header-only AIFF metadata: walk to COMM, take the DECLARED frame
    * count — never touches SSND data. */
  private[graft] def parseAiff(b: Array[Byte]): Option[(Int, Int, Long)] = {
    if (b == null || b.length < 12) return None
    if (!(b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M' &&
        b(8) == 'A' && b(9) == 'I' && b(10) == 'F' && b(11) == 'F')) return None
    val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
    var pos = 12
    while (pos + 8 <= b.length) {
      val id = new String(b, pos, 4, "US-ASCII")
      val sz = bb.getInt(pos + 4).toLong & 0xFFFFFFFFL
      if (id == "COMM" && pos + 8 + 18 <= b.length) {
        val channels = bb.getShort(pos + 8).toInt
        val nFrames = bb.getInt(pos + 10).toLong & 0xFFFFFFFFL
        val e = bb.getShort(pos + 16) & 0x7FFF
        val mant = bb.getLong(pos + 18)
        val shift = e - 16383 - 63
        val rate =
          if (e == 0 || mant == 0 || shift < -63 || shift > 0) 0L
          else mant >>> -shift
        return if (rate > 0 && rate <= Int.MaxValue && channels > 0)
          Some((rate.toInt, channels, nFrames))
        else None
      }
      val next = pos.toLong + 8L + sz + (sz & 1L)
      pos = if (next <= pos || next > Int.MaxValue) b.length else next.toInt
    }
    None
  }

  /** Header-only AU metadata: the 24-byte fixed header plus a frame
    * count derived from the declared data size. */
  private[graft] def parseAu(b: Array[Byte]): Option[(Int, Int, Long)] = {
    if (b == null || b.length < 24) return None
    if (!(b(0) == '.' && b(1) == 's' && b(2) == 'n' && b(3) == 'd')) return None
    val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
    val dataSize = bb.getInt(8).toLong & 0xFFFFFFFFL
    val enc = bb.getInt(12)
    val rate = bb.getInt(16)
    val channels = bb.getInt(20)
    val bytesPer = enc match { case 1 | 2 | 27 => 1; case 3 => 2; case 4 => 3; case 5 => 4; case _ => return None }
    if (rate <= 0 || channels <= 0 || channels > 64) return None
    Some((rate, channels, dataSize / (bytesPer.toLong * channels)))
  }

  /** G.711 μ-law byte → linear int16 (CCITT expansion): complement, then
    * sign-magnitude with 3-bit exponent chords — magnitude =
    * 132·(2^e − 1) + m·2^(e+3). Closed-form integer, so a SQL oracle
    * replays it term for term. */
  private[graft] def ulaw2linear(byte: Byte): Int = {
    val u = (~byte) & 0xFF
    val exp = (u >> 4) & 7
    val mant = u & 0x0F
    val mag = 132 * ((1 << exp) - 1) + (mant << (exp + 3))
    if ((u & 0x80) != 0) -mag else mag
  }

  /** A real big-endian int16 mono AIFF carrying `samples` verbatim. */
  def syntheticAiff(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    val dataLen = samples.length * 2
    val b = ByteBuffer.allocate(12 + 26 + 16 + dataLen).order(ByteOrder.BIG_ENDIAN)
    b.put("FORM".getBytes("US-ASCII")).putInt(4 + 26 + 16 + dataLen)
    b.put("AIFF".getBytes("US-ASCII"))
    b.put("COMM".getBytes("US-ASCII")).putInt(18)
    b.putShort(1).putInt(samples.length).putShort(16)
    // rate as 80-bit extended: normalize so the integer bit is set
    val nlz = java.lang.Long.numberOfLeadingZeros(sampleRate.toLong)
    b.putShort((16383 + 63 - nlz).toShort).putLong(sampleRate.toLong << nlz)
    b.put("SSND".getBytes("US-ASCII")).putInt(8 + dataLen).putInt(0).putInt(0)
    samples.foreach(s => b.putShort(s.toShort))
    b.array()
  }

  /** An AIFF-C stream (FORM type AIFC, FVER chunk, COMM with a
    * compression type + pascal-string name): `compType` "NONE"/"twos"
    * writes big-endian int16 like plain AIFF; "sowt" writes
    * BYTE-SWAPPED int16 — the Mac OS X default, and the case a
    * big-endian-only reader gets exactly backwards. */
  def syntheticAifc(sampleRate: Int, samples: Array[Int],
      compType: String = "sowt"): Array[Byte] = {
    require(Set("NONE", "twos", "sowt").contains(compType))
    val name = compType match {
      case "sowt" => "" case _ => "not compressed"
    }
    // pascal string: length byte + chars, padded to EVEN total
    val pLen = 1 + name.length
    val pPad = pLen & 1
    val commLen = 22 + pLen + pPad
    val dataLen = samples.length * 2
    val b = ByteBuffer.allocate(12 + 12 + 8 + commLen + 16 + dataLen)
      .order(ByteOrder.BIG_ENDIAN)
    b.put("FORM".getBytes("US-ASCII")).putInt(4 + 12 + 8 + commLen + 16 + dataLen)
    b.put("AIFC".getBytes("US-ASCII"))
    b.put("FVER".getBytes("US-ASCII")).putInt(4).putInt(0xA2805140)
    b.put("COMM".getBytes("US-ASCII")).putInt(commLen)
    b.putShort(1).putInt(samples.length).putShort(16)
    val nlz = java.lang.Long.numberOfLeadingZeros(sampleRate.toLong)
    b.putShort((16383 + 63 - nlz).toShort).putLong(sampleRate.toLong << nlz)
    b.put(compType.getBytes("US-ASCII"))
    b.put(name.length.toByte).put(name.getBytes("US-ASCII"))
    if (pPad == 1) b.put(0.toByte)
    b.put("SSND".getBytes("US-ASCII")).putInt(8 + dataLen).putInt(0).putInt(0)
    if (compType == "sowt")
      samples.foreach { s => b.put((s & 0xFF).toByte).put(((s >> 8) & 0xFF).toByte) }
    else samples.foreach(s => b.putShort(s.toShort))
    b.array()
  }

  /** G.711 A-law byte → linear int16: xor 0x55, then segment 0 is
    * linear (m·16 + 8) and segments 1–7 are (m·16 + 264)·2^(e−1); the
    * sign bit SET means positive (A-law's inversion of μ-law's
    * convention). Closed-form integer — SQL-replayable like
    * [[ulaw2linear]]. */
  private[graft] def alaw2linear(byte: Byte): Int = {
    val a = (byte ^ 0x55) & 0xFF
    val exp = (a >> 4) & 7
    val mant = a & 0x0F
    val mag = if (exp == 0) (mant << 4) + 8 else ((mant << 4) + 0x108) << (exp - 1)
    if ((a & 0x80) != 0) mag else -mag
  }

  /** A real AU stream: μ-law (`enc = 1`) or A-law (`enc = 27`) bytes
    * verbatim, or big-endian int16 (`enc = 3`), mono. For the G.711
    * codings the caller supplies the CODED bytes — fixtures put the
    * integer byte formula on the wire and let the decoder's expansion
    * law be the thing under test. */
  def syntheticAu(sampleRate: Int, enc: Int, data: Array[Byte]): Array[Byte] = {
    require(enc == 1 || enc == 3 || enc == 27)
    val b = ByteBuffer.allocate(24 + data.length).order(ByteOrder.BIG_ENDIAN)
    b.put(".snd".getBytes("US-ASCII")).putInt(24).putInt(data.length)
    b.putInt(enc).putInt(sampleRate).putInt(1)
    b.put(data)
    b.array()
  }

  /** A real 16-bit PCM mono WAV carrying `samples` verbatim — the audio
    * sibling of [[syntheticBmpPixels]]: decode(build(s)) == s must hold
    * exactly for the envelope hash to match an arithmetic replay. */
  def syntheticWavPcm(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    val dataLen = samples.length * 2
    val b = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1).putShort(1).putInt(sampleRate)
    b.putInt(sampleRate * 2).putShort(2).putShort(16)
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => b.putShort(s.toShort))
    b.array()
  }

  /** [[syntheticWavPcm]]'s waveform re-exported at another encoding —
    * the audio re-encode fixture. `encoding`: "pcm8" (unsigned byte,
    * top 8 bits — lossy), "pcm24"/"pcm32" (int16 scaled up — decodes
    * back exactly), "float32" (s/32768 in IEEE float — decodes back
    * exactly for |s| < 16384), "ext16" (WAVE_FORMAT_EXTENSIBLE wrapper
    * around plain int16 PCM). Mono; int16-range input samples. */
  def syntheticWav(sampleRate: Int, samples: Array[Int], encoding: String): Array[Byte] = {
    val ext = encoding == "ext16"
    val bytesPer = encoding match {
      case "pcm8" => 1
      case "pcm24" => 3
      case "pcm32" | "float32" => 4
      case "ext16" => 2
      case _ => throw new IllegalArgumentException(s"encoding $encoding")
    }
    val fmtLen = if (ext) 40 else 16
    val dataLen = samples.length * bytesPer
    val b = ByteBuffer.allocate(20 + fmtLen + 8 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(12 + fmtLen + 8 + dataLen)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(fmtLen)
    val code = if (ext) 0xFFFE else if (encoding == "float32") 3 else 1
    b.putShort(code.toShort).putShort(1).putInt(sampleRate)
    b.putInt(sampleRate * bytesPer).putShort(bytesPer.toShort).putShort((bytesPer * 8).toShort)
    if (ext) {
      b.putShort(22).putShort(16).putInt(0x4) // cbSize, validBits, FRONT_CENTER
      b.putShort(1) // SubFormat code: PCM
      // the rest of the PCM SubFormat GUID (fixed KSDATAFORMAT bytes)
      b.putShort(0).put(Array[Byte](0x00, 0x00, 0x10, 0x00, 0x80.toByte, 0x00,
        0x00, 0xAA.toByte, 0x00, 0x38, 0x9B.toByte, 0x71))
    }
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach { s =>
      encoding match {
        case "pcm8" => b.put((((s >> 8) + 128) & 0xFF).toByte)
        case "pcm24" =>
          val v = s << 8
          b.put((v & 0xFF).toByte).put(((v >> 8) & 0xFF).toByte).put(((v >> 16) & 0xFF).toByte)
        case "pcm32" => b.putInt(s << 16)
        case "float32" => b.putFloat(s / 32768.0f)
        case "ext16" => b.putShort(s.toShort)
      }
    }
    b.array()
  }

  /** A real G.711 telephony WAV: format tag 6 (A-law) or 7 (μ-law),
    * 8 bits, mono, the CODED bytes verbatim — fixtures put the byte
    * formula on the wire and let the expansion law be the thing under
    * test (the [[syntheticAu]] pattern). The fmt chunk carries the
    * 18-byte non-PCM form (cbSize = 0) that strict readers — the JDK's
    * WaveFileReader among them — expect for compressed format tags. */
  def syntheticWavG711(sampleRate: Int, fmtTag: Int, data: Array[Byte]): Array[Byte] = {
    require(fmtTag == 6 || fmtTag == 7)
    val b = ByteBuffer.allocate(20 + 18 + 8 + data.length).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(12 + 18 + 8 + data.length)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(18)
    b.putShort(fmtTag.toShort).putShort(1).putInt(sampleRate)
    b.putInt(sampleRate).putShort(1).putShort(8).putShort(0)
    b.put("data".getBytes("US-ASCII")).putInt(data.length)
    b.put(data)
    b.array()
  }

  /** Difference-hash (dHash) perceptual fingerprint (the widely-used
    * gradient-sign scheme popularized by Krawetz, "Kind of Like That",
    * HackerFactor blog 2013): box-average the
    * grayscale down to a 9×8 grid (integer sums, integer division — every
    * engine replays it bit-exact), then bit (x + 8·y) = 1 iff
    * cell(x, y) > cell(x+1, y). 64 bits of horizontal gradient signs —
    * robust to rescaling, recompression, and brightness-preserving edits,
    * the standard cheap image near-dup key. Pixel (x, y) maps to cell
    * (⌊x·9/w⌋, ⌊y·8/h⌋) — THE replayable contract an oracle reproduces in
    * SQL (for grid-divisible sizes this is the even block partition);
    * requires w ≥ 9, h ≥ 8 — tinier images have no gradient content worth
    * hashing and return None. */
  /** EXIF orientation → display-oriented luma (round 13). `o` is the
    * EXIF tag-274 value: 1 identity, 2 mirror-H, 3 rot180, 4 mirror-V,
    * 5 transpose, 6 rot90CW, 7 transverse, 8 rot270CW (5–8 swap dims).
    * Applied before hashing so a rotated/mirrored re-export of the same
    * photo — the single most common benign transform in a scraped image
    * corpus — lands on the SAME near-dup hash. Out-of-range values act
    * as 1 (corrupt-input posture). */
  private[graft] def applyOrientation(w: Int, h: Int, px: Array[Int], o: Int)
      : (Int, Int, Array[Int]) = {
    if (o <= 1 || o > 8) return (w, h, px)
    val swap = o >= 5
    val w2 = if (swap) h else w
    val h2 = if (swap) w else h
    val out = new Array[Int](w2 * h2)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        val sx = o match {
          case 2 => w - 1 - x
          case 3 => w - 1 - x
          case 4 => x
          case 5 => y
          case 6 => y
          case 7 => w - 1 - y
          case _ => w - 1 - y // 8
        }
        val sy = o match {
          case 2 => y
          case 3 => h - 1 - y
          case 4 => h - 1 - y
          case 5 => x
          case 6 => h - 1 - x
          case 7 => h - 1 - x
          case _ => x // 8
        }
        out(y * w2 + x) = px(sy * w + sx)
        x += 1
      }
      y += 1
    }
    (w2, h2, out)
  }

  /** JPEG APP1/Exif orientation: marker walk to the first APP1 whose
    * payload starts "Exif\0\0", then the embedded TIFF's 0th-IFD scan
    * for tag 274 (SHORT, either byte order). 1 when absent or
    * structurally unreadable — orientation is advisory metadata, so the
    * corrupt posture here is "treat as upright", never None. */
  private[graft] def exifOrientationJpeg(b: Array[Byte]): Int = {
    if (b == null || b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8)
      return 1
    try {
      var p = 2
      while (p + 4 <= b.length) {
        if ((b(p) & 0xFF) != 0xFF) return 1
        val marker = b(p + 1) & 0xFF
        if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7) || marker == 0x01) {
          p += 2 // standalone markers carry no length
        } else if (marker == 0xDA || marker == 0xD9) {
          return 1 // entropy data / EOI: no APP1 seen
        } else {
          val len = ((b(p + 2) & 0xFF) << 8) | (b(p + 3) & 0xFF)
          if (len < 2 || p + 2 + len > b.length) return 1
          if (marker == 0xE1 && len >= 2 + 6 + 8 &&
              b(p + 4) == 'E' && b(p + 5) == 'x' && b(p + 6) == 'i' &&
              b(p + 7) == 'f' && b(p + 8) == 0 && b(p + 9) == 0) {
            val t0 = p + 10 // embedded TIFF header
            val le = b(t0) == 'I' && b(t0 + 1) == 'I'
            val be = b(t0) == 'M' && b(t0 + 1) == 'M'
            if (!le && !be) return 1
            val bb = ByteBuffer.wrap(b).order(
              if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
            if ((bb.getShort(t0 + 2) & 0xFFFF) != 42) return 1
            val ifd = t0 + bb.getInt(t0 + 4)
            if (ifd < t0 || ifd + 2 > b.length) return 1
            val n = bb.getShort(ifd) & 0xFFFF
            var i = 0
            while (i < n) {
              val e = ifd + 2 + i * 12
              if (e + 12 > b.length) return 1
              if ((bb.getShort(e) & 0xFFFF) == 274 && (bb.getShort(e + 2) & 0xFFFF) == 3) {
                val v = bb.getShort(e + 8) & 0xFFFF
                return if (v >= 1 && v <= 8) v else 1
              }
              i += 1
            }
            return 1
          }
          p += 2 + len
        }
      }
      1
    } catch { case scala.util.control.NonFatal(_) => 1 }
  }

  /** Splice an APP1/Exif segment carrying orientation `o` right after
    * SOI — the fixture side of [[exifOrientationJpeg]]. */
  def withExifOrientation(jpeg: Array[Byte], o: Int, bigEndian: Boolean = false): Array[Byte] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xFF) == 0xFF && (jpeg(1) & 0xFF) == 0xD8)
    require(o >= 1 && o <= 8)
    val tiff = ByteBuffer.allocate(8 + 2 + 12 + 4).order(
      if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    tiff.put((if (bigEndian) "MM" else "II").getBytes("ISO-8859-1"))
    tiff.putShort(42); tiff.putInt(8) // 0th IFD right after the header
    tiff.putShort(1) // one entry
    tiff.putShort(274); tiff.putShort(3); tiff.putInt(1); tiff.putShort(o.toShort)
    tiff.putShort(0) // value field padding
    tiff.putInt(0) // no next IFD
    val payload = "Exif".getBytes("ISO-8859-1") ++ Array[Byte](0, 0) ++ tiff.array()
    val out = new java.io.ByteArrayOutputStream()
    out.write(jpeg, 0, 2)
    out.write(0xFF); out.write(0xE1)
    val len = payload.length + 2
    out.write((len >> 8) & 0xFF); out.write(len & 0xFF)
    out.write(payload, 0, payload.length)
    out.write(jpeg, 2, jpeg.length - 2)
    out.toByteArray
  }

  private[graft] def dHash64(w: Int, h: Int, gray: Array[Int]): Option[Long] = {
    if (w < 9 || h < 8) return None
    val cells = new Array[Long](9 * 8)
    val counts = new Array[Long](9 * 8)
    var y = 0
    while (y < h) {
      val cy = math.min(y * 8 / h, 7)
      var x = 0
      while (x < w) {
        val cx = math.min(x * 9 / w, 8)
        cells(cy * 9 + cx) += gray(y * w + x)
        counts(cy * 9 + cx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        val a = cells(cy * 9 + cx) / counts(cy * 9 + cx)
        val b = cells(cy * 9 + cx + 1) / counts(cy * 9 + cx + 1)
        if (a > b) hash |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    Some(hash)
  }

  // ---- deterministic fixture builders (tests + oracle queries construct
  //      real files, then the parsers above must read the fields back) ----

  /** Minimal valid BMP: 54-byte header (BITMAPINFOHEADER) + 4 stub pixel
    * bytes. The declared dimensions are real header fields — a parser that
    * does not read offsets 18/22 cannot fake the roundtrip. */
  def syntheticBmp(width: Int, height: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(58).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(58).putInt(0).putInt(54) // file header
    b.putInt(40).putInt(width).putInt(height) // DIB: size, width, height
    b.putShort(1).putShort(24).putInt(0).putInt(4) // planes, bpp, compression, image size
    b.putInt(2835).putInt(2835).putInt(0).putInt(0) // ppm resolution, palette
    b.putInt(0) // stub pixel bytes
    b.array()
  }

  /** A REAL palettized 8-bit BMP: 256-entry grayscale colour table
    * (entry i = (i,i,i) → luma is exactly the stored index, so the
    * arithmetic replay oracles hold), bottom-up rows, 4-byte-padded
    * stride — the ubiquitous indexed-colour web scrape form. */
  def syntheticBmp8(width: Int, height: Int, gray: Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0 && gray.length == width * height)
    val stride = (width + 3) / 4 * 4
    val dataOff = 54 + 256 * 4
    val size = dataOff + stride * height
    val b = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(dataOff)
    b.putInt(40).putInt(width).putInt(height)
    b.putShort(1).putShort(8).putInt(0).putInt(stride * height)
    b.putInt(2835).putInt(2835).putInt(256).putInt(0)
    var i = 0
    while (i < 256) {
      b.put(i.toByte).put(i.toByte).put(i.toByte).put(0.toByte); i += 1
    }
    var y = height - 1
    while (y >= 0) {
      var x = 0
      while (x < width) { b.put((gray(y * width + x) & 0xFF).toByte); x += 1 }
      while (x < stride) { b.put(0.toByte); x += 1 }
      y -= 1
    }
    b.array()
  }

  /** Minimal PPM (P6) with a comment line in the header and no pixel
    * payload beyond one stub byte. */
  def syntheticPpm(width: Int, height: Int): Array[Byte] =
    s"P6\n# graft fixture\n$width $height\n255\n".getBytes("US-ASCII") ++ Array[Byte](0)

  /** Minimal PNG: signature + a complete IHDR chunk with a REAL CRC32
    * (java.util.zip — no codec involved), truecolor 8-bit, no payload. */
  def syntheticPng(width: Int, height: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(33).order(ByteOrder.BIG_ENDIAN)
    b.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
    b.putInt(13).put("IHDR".getBytes("US-ASCII"))
    b.putInt(width).putInt(height)
    b.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    val crc = new java.util.zip.CRC32
    crc.update(b.array(), 12, 17) // chunk type + data
    b.putInt(crc.getValue.toInt)
    b.array()
  }

  /** A REAL PNG (RFC 2083) carrying the given grayscale pixels: IHDR +
    * one IDAT holding a genuine zlib/DEFLATE stream
    * (java.util.zip.Deflater) + IEND, every CRC32 real. `colorType` 0
    * writes the gray bytes directly; 2 writes r=g=b triplets (the BT.601
    * projection returns the same gray on decode); 3 writes indices
    * through a PERMUTED grayscale palette (entry j = p(j)·(1,1,1) with
    * p(j) = (j·181+7) mod 256, index = p⁻¹(gray)) so an identity-
    * shortcut palette lookup cannot round-trip. `bitDepth` 16 (types
    * 0/2) replicates each sample as g<<8|g — the decoder's high-byte
    * reduction lands back on g. `interlaced` writes the Adam7 pass
    * layout (seven independently-filtered sub-images). `rowFilters`
    * cycles per emitted row (values 0–4) and the encoder applies each
    * filter FORWARD (raw − predictor mod 256, predictors over the
    * UNFILTERED neighbours, RFC 2083 §6) — so a decoder that skips or
    * fumbles the unfilter step cannot round-trip a fixture encoded with
    * filters 1–4. */
  def syntheticPngPixels(width: Int, height: Int, gray: Array[Int],
      colorType: Int = 0, rowFilters: Seq[Int] = Seq(0),
      interlaced: Boolean = false, bitDepth: Int = 8): Array[Byte] = {
    require(colorType == 0 || colorType == 2 || colorType == 3,
      "colorType 0 (gray), 2 (RGB) or 3 (palette)")
    require(bitDepth == 8 || (bitDepth == 16 && colorType != 3),
      "bitDepth 8, or 16 for gray/RGB")
    require(gray.length == width * height, "pixel count mismatch")
    require(rowFilters.nonEmpty && rowFilters.forall(f => f >= 0 && f <= 4))
    val perm = Array.tabulate(256)(j => (j * 181 + 7) % 256)
    val pinv = { val a = new Array[Int](256); for (j <- 0 until 256) a(perm(j)) = j; a }
    val channels = if (colorType == 2) 3 else 1
    val bpp = channels * bitDepth / 8
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val passes: Seq[(Int, Int, Int, Int)] =
      if (!interlaced) Seq((0, 0, 1, 1))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val rawOut = new java.io.ByteArrayOutputStream()
    var rowCounter = 0
    passes.foreach { case (x0, y0, dx, dy) =>
      val pw = if (width > x0) (width - x0 + dx - 1) / dx else 0
      val ph = if (height > y0) (height - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0) {
        val stride = pw * bpp
        // plain = this pass's unfiltered sub-image (predictors read these)
        val plain = new Array[Byte](ph * stride)
        var j = 0
        while (j < ph) {
          var i = 0
          while (i < pw) {
            val g = gray((y0 + j * dy) * width + (x0 + i * dx)) & 0xFF
            val off = j * stride + i * bpp
            colorType match {
              case 3 => plain(off) = pinv(g).toByte
              case _ =>
                var c = 0
                while (c < channels) {
                  if (bitDepth == 8) plain(off + c) = g.toByte
                  else { plain(off + 2 * c) = g.toByte; plain(off + 2 * c + 1) = g.toByte }
                  c += 1
                }
            }
            i += 1
          }
          j += 1
        }
        val row = new Array[Byte](stride + 1)
        j = 0
        while (j < ph) {
          val ft = rowFilters(rowCounter % rowFilters.length)
          rowCounter += 1
          row(0) = ft.toByte
          var x = 0
          while (x < stride) {
            val cur = plain(j * stride + x) & 0xFF
            val left = if (x >= bpp) plain(j * stride + x - bpp) & 0xFF else 0
            val up = if (j > 0) plain((j - 1) * stride + x) & 0xFF else 0
            val ul = if (j > 0 && x >= bpp) plain((j - 1) * stride + x - bpp) & 0xFF else 0
            val pred = ft match {
              case 0 => 0
              case 1 => left
              case 2 => up
              case 3 => (left + up) / 2
              case 4 => paeth(left, up, ul)
            }
            row(1 + x) = ((cur - pred) & 0xFF).toByte
            x += 1
          }
          rawOut.write(row, 0, stride + 1)
          j += 1
        }
      }
    }
    val raw = rawOut.toByteArray
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val compBuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) compBuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    val comp = compBuf.toByteArray
    val plteLen = if (colorType == 3) 12 + 768 else 0
    val out = ByteBuffer.allocate(8 + 25 + plteLen + 12 + comp.length + 12)
      .order(ByteOrder.BIG_ENDIAN)
    out.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
    def chunk(tpe: String, data: Array[Byte]): Unit = {
      out.putInt(data.length)
      val typeOff = out.position()
      out.put(tpe.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32
      crc.update(out.array(), typeOff, 4 + data.length)
      out.putInt(crc.getValue.toInt)
    }
    val ihdr = ByteBuffer.allocate(13).order(ByteOrder.BIG_ENDIAN)
    ihdr.putInt(width).putInt(height)
    ihdr.put(bitDepth.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte)
      .put(if (interlaced) 1.toByte else 0.toByte)
    chunk("IHDR", ihdr.array())
    if (colorType == 3)
      chunk("PLTE", Array.tabulate[Byte](768)(i => perm(i / 3).toByte))
    chunk("IDAT", comp)
    chunk("IEND", Array.emptyByteArray)
    out.array()
  }

  /** A REAL GIF89a carrying the given grayscale pixels: 256-entry
    * grayscale global colour table (entry i = (i,i,i), so the BT.601
    * luma is exactly the palette index — the oracle replays pixels
    * directly), one image descriptor, and a GENUINE LZW-compressed
    * data stream (dictionary build, variable 9→12-bit codes, CLEAR
    * reset on dictionary overflow) packed into 255-byte sub-blocks.
    * `interlaced` writes the four-pass row order with the flag set, so
    * the decoder's de-interlace is load-bearing. A decoder that fumbles
    * the dictionary walk, the width-growth timing, or the row order
    * cannot round-trip this. */
  def syntheticGifPixels(width: Int, height: Int, gray: Array[Int],
      interlaced: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && gray.length == width * height)
    val out = new java.io.ByteArrayOutputStream()
    writeGifHeader(out, width, height)
    writeGifImage(out, width, height, gray, interlaced)
    out.write(0x3B)
    out.toByteArray
  }

  /** A real multi-frame (animated) GIF89a: each luma plane becomes one
    * full-screen image descriptor, with a graphic-control extension
    * between frames (as real encoders emit — the decoder's extension
    * skipping is load-bearing mid-stream, not just before frame 1).
    * With `interlaceAlt`, odd frames are interlaced. */
  def syntheticGifAnimated(width: Int, height: Int, frames: Seq[Array[Int]],
      interlaceAlt: Boolean = false): Array[Byte] = {
    require(frames.nonEmpty && frames.forall(_.length == width * height))
    val out = new java.io.ByteArrayOutputStream()
    writeGifHeader(out, width, height)
    frames.zipWithIndex.foreach { case (f, i) =>
      // graphic control: 4-byte block (disposal none, 5cs delay, no
      // transparency) — content is irrelevant here, skipping it isn't
      out.write(0x21); out.write(0xF9); out.write(4)
      out.write(0); out.write(5); out.write(0); out.write(0)
      out.write(0)
      writeGifImage(out, width, height, f, interlaceAlt && i % 2 == 1)
    }
    out.write(0x3B)
    out.toByteArray
  }

  /** An animated GIF of sub-rect DELTA frames — the real-world encoder
    * shape [[decodeGifFramesSampled]]'s compositor exists for. Each
    * frame is (left, top, w, h, px, disposal) where px entries are gray
    * values 0–254 or −1 for TRANSPARENT (written as index 255 with the
    * GCE transparency flag); `disposal` is the GIF89a code (0/1 keep,
    * 2 restore-to-background, 3 restore-to-previous). The global table
    * stays the grayscale identity, `bgIndex` seeds the canvas. */
  def syntheticGifAnimatedDeltas(screenW: Int, screenH: Int,
      frames: Seq[(Int, Int, Int, Int, Array[Int], Int)],
      bgIndex: Int = 0): Array[Byte] = {
    require(frames.nonEmpty)
    frames.foreach { case (l, t, w, h, px, d) =>
      require(l >= 0 && t >= 0 && w > 0 && h > 0 && l + w <= screenW && t + h <= screenH)
      require(px.length == w * h && px.forall(v => v == -1 || (v >= 0 && v <= 254)))
      require(d >= 0 && d <= 3)
    }
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    out.write("GIF89a".getBytes("US-ASCII"))
    w16(screenW); w16(screenH)
    out.write(0xF7); out.write(bgIndex & 0xFF); out.write(0)
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    frames.foreach { case (l, t, w, h, px, d) =>
      val hasTrans = px.contains(-1)
      out.write(0x21); out.write(0xF9); out.write(4)
      out.write((d << 2) | (if (hasTrans) 1 else 0))
      out.write(5); out.write(0) // 5 cs delay
      out.write(255) // transparent index (only honoured when flagged)
      out.write(0)
      writeGifImage(out, w, h, px.map(v => if (v == -1) 255 else v),
        interlaced = false, left = l, top = t)
    }
    out.write(0x3B)
    out.toByteArray
  }

  private def writeGifHeader(out: java.io.ByteArrayOutputStream,
      width: Int, height: Int): Unit = {
    def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    out.write("GIF89a".getBytes("US-ASCII"))
    w16(width); w16(height)
    out.write(0xF7); out.write(0); out.write(0) // 256-entry global table
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
  }

  private def writeGifImage(out: java.io.ByteArrayOutputStream,
      width: Int, height: Int, gray: Array[Int], interlaced: Boolean,
      left: Int = 0, top: Int = 0): Unit = {
    def w16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    out.write(0x2C)
    w16(left); w16(top); w16(width); w16(height)
    out.write(if (interlaced) 0x40 else 0)
    val rows: Seq[Int] =
      if (!interlaced) 0 until height
      else Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (s, st) => s until height by st }
    val px = rows.flatMap(y => (0 until width).map(x => gray(y * width + x) & 0xFF)).toArray
    out.write(8) // LZW min code size
    val clear = 256; val end = 257
    val bytes = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var nBits = 0; var codeSize = 9
    def put(code: Int): Unit = {
      bitBuf |= code.toLong << nBits; nBits += codeSize
      while (nBits >= 8) { bytes.write((bitBuf & 0xFF).toInt); bitBuf >>>= 8; nBits -= 8 }
    }
    val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var nextCode = end + 1
    put(clear)
    var cur = px(0)
    var j = 1
    while (j < px.length) {
      val b2 = px(j)
      dict.get((cur, b2)) match {
        case Some(c) => cur = c
        case None =>
          put(cur)
          dict((cur, b2)) = nextCode; nextCode += 1
          // width-growth timing mirrors the decoder: it reads the next
          // code one entry behind us, so grow at (1<<size)+1
          if (nextCode == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          if (nextCode >= 4096) {
            put(clear); dict.clear(); nextCode = end + 1; codeSize = 9
          }
          cur = b2
      }
      j += 1
    }
    put(cur); put(end)
    if (nBits > 0) bytes.write((bitBuf & 0xFF).toInt)
    val payload = bytes.toByteArray
    var off = 0
    while (off < payload.length) {
      val n = math.min(255, payload.length - off)
      out.write(n); out.write(payload, off, n); off += n
    }
    out.write(0) // sub-block terminator; the stream trailer is the caller's
  }

  /** Minimal GIF89a: 6-byte signature + logical screen descriptor, no
    * color table and no image data blocks. */
  def syntheticGif(width: Int, height: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(13).order(ByteOrder.LITTLE_ENDIAN)
    b.put("GIF89a".getBytes("US-ASCII"))
    b.putShort(width.toShort).putShort(height.toShort)
    b.put(0x70.toByte).put(0.toByte).put(0.toByte) // flags, bg index, aspect
    b.array()
  }

  /** Byte and entropy writer of the synthetic JPEG fixtures. [[head]]
    * writes what every fixture opens with: all-ones quant (coefficients
    * survive verbatim) and CANONICAL Huffman tables — every DC category at
    * length 4, every AC symbol of `acSyms` at length 8, so a symbol's code
    * is its index (the decoder builds whatever DHT declares, so fixtures
    * need no Annex K transcription). Entropy bits go MSB-first with FF
    * stuffing; [[flush]] pads the last byte with 1-bits. */
  private final class JpegWriter(acSyms: Array[Int]) {
    val out = new java.io.ByteArrayOutputStream()
    private val acCode = new Array[Int](256)
    acSyms.indices.foreach(i => acCode(acSyms(i)) = i)
    private var acc = 0
    private var n = 0

    def w8(v: Int): Unit = out.write(v & 0xFF)
    def w16(v: Int): Unit = { w8(v >> 8); w8(v) }
    def marker(m: Int): Unit = { w8(0xFF); w8(m) }

    def bits(v: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); n += 1
        if (n == 8) { out.write(acc); if (acc == 0xFF) out.write(0x00); acc = 0; n = 0 }
        i -= 1
      }
    }
    def dc(cat: Int): Unit = bits(cat, 4)
    def ac(rs: Int): Unit = bits(acCode(rs), 8)
    /** `v` in the `s`-bit magnitude coding EXTEND inverts. */
    def value(v: Int, s: Int): Unit = if (s > 0) bits(if (v >= 0) v else v + (1 << s) - 1, s)
    def flush(): Unit = if (n > 0) {
      acc = (acc << (8 - n)) | ((1 << (8 - n)) - 1)
      out.write(acc); if (acc == 0xFF) out.write(0x00)
      acc = 0; n = 0
    }

    /** SOI, DQT, DHT (DC and AC table 0), DRI when `restartInterval` > 0,
      * and the `sof` frame header; component c+1 has sampling `hv(c)`. */
    def head(sof: Int, width: Int, height: Int, hv: Seq[Int], restartInterval: Int): Unit = {
      marker(0xD8)
      marker(0xDB); w16(2 + 1 + 64); w8(0) // DQT table 0, 8-bit
      for (_ <- 0 until 64) w8(1)
      def dht(tc: Int, len: Int, syms: Array[Int]): Unit = {
        marker(0xC4); w16(2 + 1 + 16 + syms.length); w8(tc << 4)
        for (l <- 1 to 16) w8(if (l == len) syms.length else 0)
        syms.foreach(w8)
      }
      dht(0, 4, (0 to 11).toArray)
      dht(1, 8, acSyms)
      if (restartInterval > 0) { marker(0xDD); w16(4); w16(restartInterval) }
      marker(sof); w16(2 + 6 + 3 * hv.length); w8(8); w16(height); w16(width); w8(hv.length)
      hv.zipWithIndex.foreach { case (f, c) => w8(c + 1); w8(f); w8(0) }
    }

    /** An SOS header over components `comps`, every one on table 0. */
    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(0xDA); w16(2 + 1 + 2 * comps.length + 3); w8(comps.length)
      comps.foreach { c => w8(c); w8(0x00) }
      w8(ss); w8(se); w8((ah << 4) | al)
    }
  }

  /** Forward DCT (quant 1) of the level-shifted 8×8 block at block
    * position (bx, by) of a gray plane, in zigzag order. */
  private def jpegFdct(gray: Array[Int], width: Int, bx: Int, by: Int): Array[Int] = {
    val coefZ = new Array[Int](64)
    var k = 0
    while (k < 64) {
      val u = JpegZigzag(k) % 8; val v = JpegZigzag(k) / 8
      var s = 0.0
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          s += (gray((by * 8 + y) * width + bx * 8 + x) - 128) * DctCos(x)(u) * DctCos(y)(v)
          x += 1
        }
        y += 1
      }
      coefZ(k) = math.round(0.25 * DctC(u) * DctC(v) * s).toInt
      k += 1
    }
    coefZ
  }

  /** The magnitude category (bit length) of a coefficient or difference. */
  private def jpegCat(v: Int): Int = { var a = math.abs(v); var c = 0; while (a > 0) { a >>= 1; c += 1 }; c }

  /** A REAL baseline JPEG carrying the given grayscale pixels: a full
    * forward DCT per 8×8 block, DC-difference + AC run-length entropy
    * coding against the [[JpegWriter]] tables, FF byte stuffing, optional
    * RSTn restart intervals. Images whose 8×8 blocks are CONSTANT decode
    * bit-exactly (the DCT of a constant block is a lone integer DC
    * coefficient; float error ~1e-14 dies in rounding) — the property
    * the oracle fixtures rely on; general content round-trips within
    * the usual ±1 IDCT rounding. Dimensions must be multiples of 8
    * (fixture scope, not a format limit). */
  def syntheticJpegPixels(width: Int, height: Int, gray: Array[Int],
      restartInterval: Int = 0, color: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && width % 8 == 0 && height % 8 == 0,
      "fixture dims must be multiples of 8")
    require(gray.length == width * height)
    // AC: EOB, ZRL and every (run, size) — size up to 10 covers quant-1 magnitudes
    val o = new JpegWriter((0x00 +: 0xF0 +: (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)).toArray)
    // `color` = YCbCr 4:4:4 with NEUTRAL chroma (Cb=Cr=128 → level-shifted
    // zero → DC diff 0 + EOB per block): the luma plane is identical, but
    // the decoder must entropy-walk the interleaved chroma blocks
    val nc = if (color) 3 else 1
    o.head(0xC0, width, height, Seq.fill(nc)(0x11), restartInterval)
    o.sos(1 to nc, 0, 63, 0, 0)
    val bw = width / 8; val bh = height / 8
    var pred = 0
    var mcu = 0
    while (mcu < bw * bh) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        o.flush()
        o.marker(0xD0 + ((mcu / restartInterval - 1) % 8))
        pred = 0
      }
      val coefZ = jpegFdct(gray, width, mcu % bw, mcu / bw)
      val diff = coefZ(0) - pred
      pred = coefZ(0)
      val c = jpegCat(diff)
      o.dc(c); o.value(diff, c)
      var k = 1
      var lastNz = 63
      while (lastNz > 0 && coefZ(lastNz) == 0) lastNz -= 1
      while (k <= lastNz) {
        var run = 0
        while (coefZ(k) == 0) { run += 1; k += 1 }
        while (run > 15) { o.ac(0xF0); run -= 16 }
        val s = jpegCat(coefZ(k))
        o.ac((run << 4) | s); o.value(coefZ(k), s)
        k += 1
      }
      if (lastNz < 63) o.ac(0x00) // EOB
      if (color) { // two neutral-chroma blocks: DC diff 0, all-zero ACs
        o.dc(0); o.ac(0x00)
        o.dc(0); o.ac(0x00)
      }
      mcu += 1
    }
    o.flush()
    o.marker(0xD9) // EOI
    o.out.toByteArray
  }

  /** A REAL progressive JPEG (SOF2) carrying the given grayscale pixels
    * through a five-scan script that exercises every progressive decode
    * path: DC first at Al=1 → AC 1..5 first at Al=1 (EOBRUN-batched) →
    * AC 6..63 first at Al=1 → DC refinement (Ah=1) → AC 1..63
    * refinement (Ah=1, the G.1.2.3 correction-bit walk with the
    * deferred-ZRL buffer partitioning — correction bits flush after the
    * NEXT symbol, not eagerly, so the decoder's interleaved read order
    * matches). Same tables, DCT and stuffing as the baseline encoder
    * ([[JpegWriter]]); point transforms per T.81 (DC arithmetic shift,
    * AC magnitude truncation). Dimensions must be multiples of 8. */
  def syntheticJpegProgressive(width: Int, height: Int, gray: Array[Int],
      color420: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && width % 8 == 0 && height % 8 == 0,
      "fixture dims must be multiples of 8")
    require(!color420 || (width % 16 == 0 && height % 16 == 0),
      "4:2:0 fixture dims must be multiples of 16 (whole MCUs)")
    require(gray.length == width * height)
    // AC symbols: EOB-run codes (r<<4 | 0) for r = 0..14, ZRL, and every
    // (run, size) — size up to 10 covers quant-1 magnitudes
    val o = new JpegWriter(((0 to 14).map(_ << 4) ++ Seq(0xF0) ++
      (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)).toArray)
    // `color420` = YCbCr with luma 2x2 / chroma 1x1 and NEUTRAL chroma
    // (Cb=Cr=128 → all-zero coefficients): the luma plane is identical,
    // but the decoder must walk interleaved 4:2:0 MCUs in the DC scans
    // and the chroma components' OWN (quarter-size) rasters in their AC
    // scans — the addressing 4:2:0 uniquely exercises
    val nc = if (color420) 3 else 1
    o.head(0xC2, width, height, (1 to nc).map(c => if (color420 && c == 1) 0x22 else 0x11), 0)
    val bw = width / 8; val bh = height / 8
    val nBlk = bw * bh
    val coefZ = Array.tabulate(nBlk)(blk => jpegFdct(gray, width, blk % bw, blk / bw))
    def truncMag(v: Int, al: Int): Int = if (v >= 0) v >> al else -((-v) >> al)
    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int)(body: => Unit): Unit = {
      o.sos(comps, ss, se, ah, al)
      body
      o.flush()
    }
    // an EOB run of `run` blocks (1 to 0x7FFF): EOBr symbol + r extra bits
    def eobRun(run: Int): Unit = {
      var r = 0
      while ((2 << r) <= run) r += 1 // r = floor(log2(run))
      o.ac(r << 4)
      o.bits(run - (1 << r), r)
    }
    // DC-scan luma block order: raster when single-component, MCU-major
    // (vb, hb inner) when interleaved 4:2:0
    def dcLumaOrder: Seq[Int] =
      if (!color420) 0 until nBlk
      else for (my <- 0 until bh / 2; mx <- 0 until bw / 2;
                vb <- 0 to 1; hb <- 0 to 1)
        yield (my * 2 + vb) * bw + (mx * 2 + hb)
    // scan 1: DC first, Al=1 (arithmetic shift per T.81); interleaved
    // over the 4:2:0 MCU when color (4 luma + Cb + Cr, neutral chroma =
    // zero diffs)
    sos(1 to nc, 0, 0, 0, 1) {
      var pred = 0
      var inMcu = 0
      dcLumaOrder.foreach { blk =>
        val v = coefZ(blk)(0) >> 1
        val diff = v - pred
        pred = v
        val c = jpegCat(diff)
        o.dc(c); o.value(diff, c)
        inMcu += 1
        if (color420 && inMcu == 4) { // Cb then Cr, diff 0
          o.dc(0); o.dc(0); inMcu = 0
        }
      }
    }
    // scans 2+3: AC first passes at Al=1, split spectral bands, EOBRUN-batched
    def acFirst(ss: Int, se: Int, al: Int): Unit = sos(Seq(1), ss, se, 0, al) {
      var eobrun = 0
      def flushEob(): Unit = if (eobrun > 0) { eobRun(eobrun); eobrun = 0 }
      for (blk <- 0 until nBlk) {
        val band = (ss to se).map(k => truncMag(coefZ(blk)(k), al))
        if (band.forall(_ == 0)) {
          eobrun += 1
          if (eobrun == 0x7FFF) flushEob()
        } else {
          flushEob()
          var r = 0
          var lastNz = se
          while (truncMag(coefZ(blk)(lastNz), al) == 0) lastNz -= 1
          for (k <- ss to lastNz) {
            val tv = truncMag(coefZ(blk)(k), al)
            if (tv == 0) r += 1
            else {
              while (r > 15) { o.ac(0xF0); r -= 16 }
              val s = jpegCat(tv)
              o.ac((r << 4) | s); o.value(tv, s)
              r = 0
            }
          }
          if (lastNz < se) eobrun = 1 // trailing zeros begin an EOB run
        }
      }
      flushEob()
    }
    acFirst(1, 5, 1)
    acFirst(6, 63, 1)
    // chroma AC first passes (color only): each chroma component's OWN
    // quarter-size raster, all-zero bands = pure EOBRUN batches — the
    // walk exercises the decoder's non-interleaved subsampled addressing
    if (color420) for (comp <- Seq(2, 3)) sos(Seq(comp), 1, 63, 0, 0) {
      var left = (bw / 2) * (bh / 2)
      while (left > 0) {
        val run = math.min(left, 0x7FFF)
        eobRun(run)
        left -= run
      }
    }
    // scan 4: DC refinement (Ah=1, Al=0) — the low bit per block;
    // interleaved over the MCU when color (chroma bits are 0)
    sos(1 to nc, 0, 0, 1, 0) {
      var inMcu = 0
      dcLumaOrder.foreach { blk =>
        o.bits(coefZ(blk)(0) & 1, 1)
        inMcu += 1
        if (color420 && inMcu == 4) { o.bits(0, 1); o.bits(0, 1); inMcu = 0 }
      }
    }
    // scan 5: AC refinement over 1..63 (Ah=1, Al=0), libjpeg's deferred
    // buffer discipline: correction bits flush AFTER the next symbol
    sos(Seq(1), 1, 63, 1, 0) {
      val al = 0; val ah = 1
      for (blk <- 0 until nBlk) {
        var r = 0
        val pending = scala.collection.mutable.ArrayBuffer.empty[Int]
        def flushPending(): Unit = { pending.foreach(o.bits(_, 1)); pending.clear() }
        // the ZRL flush runs at EVERY nonzero encounter (correction OR
        // birth) BEFORE buffering/emitting it — libjpeg's discipline.
        // Flushing only at births would emit corrections that the
        // decoder's 16-zero ZRL window never walks past, misaligning
        // the stream.
        def zrlFlush(): Unit =
          while (r > 15) { o.ac(0xF0); r -= 16; flushPending() }
        for (k <- 1 to 63) {
          val v = coefZ(blk)(k)
          val hist = truncMag(v, ah)
          if (hist != 0) {
            zrlFlush()
            pending += ((math.abs(v) >> al) & 1)
          } else if (truncMag(v, al) == 0) r += 1
          else {
            // birth (must be ±1 at this precision)
            zrlFlush()
            o.ac((r << 4) | 1)
            o.bits(if (v > 0) 1 else 0, 1)
            flushPending()
            r = 0
          }
        }
        if (r > 0 || pending.nonEmpty) { // end-of-block: EOB + tail corrections
          o.ac(0x00)
          flushPending()
        }
      }
    }
    o.marker(0xD9)
    o.out.toByteArray
  }

  /** Minimal JPEG: SOI, a full APP0/JFIF segment, an SOF0 frame header
    * carrying the real dimensions (1 component), EOI. The SOF sits BEHIND
    * a to-be-skipped segment, so a parser that doesn't walk markers can't
    * fake the roundtrip. */
  def syntheticJpeg(width: Int, height: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(35).order(ByteOrder.BIG_ENDIAN)
    b.putShort(0xFFD8.toShort) // SOI
    b.putShort(0xFFE0.toShort).putShort(16) // APP0, length 16
    b.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
    b.putShort(0x0102.toShort).put(0.toByte) // version 1.2, density units
    b.putShort(1).putShort(1).put(0.toByte).put(0.toByte) // density, thumbnail
    b.putShort(0xFFC0.toShort).putShort(11) // SOF0, length 11
    b.put(8.toByte).putShort(height.toShort).putShort(width.toShort)
    b.put(1.toByte).put(1.toByte).put(0x11.toByte).put(0.toByte) // 1 component, 1x1, qtable 0
    b.putShort(0xFFD9.toShort) // EOI
    b.array()
  }

  /** Canonical 44-byte WAV header declaring `nSamples` PCM samples; the
    * sample payload itself is omitted (parsers read declared sizes only). */
  def syntheticWav(sampleRate: Int, channels: Int, bitsPerSample: Int, nSamples: Long): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val dataLen = nSamples * blockAlign
    val b = ByteBuffer.allocate(44).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt((36 + dataLen).toInt)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1) // PCM
    b.putShort(channels.toShort).putInt(sampleRate)
    b.putInt(sampleRate * blockAlign) // byte rate
    b.putShort(blockAlign.toShort).putShort(bitsPerSample.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(dataLen.toInt)
    b.array()
  }

  /** A real 24-bpp BMP with caller-supplied grayscale pixels (r=g=b, so
    * the BT.601 luma round-trips the exact value): bottom-up rows, 4-byte
    * row stride, honest data-offset field. `gray(y * width + x)` is
    * row-major TOP-DOWN — the builder flips into BMP's bottom-up order,
    * so decode(build(px)) == px must hold exactly. */
  def syntheticBmpPixels(width: Int, height: Int, gray: Array[Int]): Array[Byte] = {
    require(gray.length == width * height, "gray must be width*height pixels")
    val stride = ((width * 3 + 3) / 4) * 4
    val b = ByteBuffer.allocate(54 + stride * height).order(ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + stride * height).putInt(0).putInt(54)
    b.putInt(40).putInt(width).putInt(height)
    b.putShort(1).putShort(24).putInt(0).putInt(stride * height)
    b.putInt(2835).putInt(2835).putInt(0).putInt(0)
    var y = 0
    while (y < height) {
      val srcRow = height - 1 - y // bottom-up: last raster row first
      var x = 0
      while (x < width) {
        val v = (gray(srcRow * width + x) & 0xFF).toByte
        b.put(v).put(v).put(v)
        x += 1
      }
      var pad = stride - width * 3
      while (pad > 0) { b.put(0.toByte); pad -= 1 }
      y += 1
    }
    b.array()
  }

  /** REAL PNG pixel decode — the "codec libs absent" blocker does not
    * apply to PNG: its only codec is DEFLATE, which ships in the JDK
    * (`java.util.zip.Inflater`), so the full RFC 2083 path is pure-JVM:
    * signature → chunk walk (length/type/data/CRC32, CRC VERIFIED for the
    * chunks we consume — a corrupt scrape rejects instead of decoding
    * garbage) → IHDR constraints → concatenated IDAT → inflate →
    * per-row unfilter (all five filter types: None/Sub/Up/Average/Paeth,
    * RFC 2083 §6) → integer BT.601 luma, the same luma as
    * [[decodeBmpGray]].
    *
    * Scope (round 12 — the full RFC 2083 layout space): every legal
    * (colour type, bit depth) pair — gray at 1/2/4/8/16 (sub-byte
    * rescaled to full range, 16-bit reduced to its high byte), palette
    * at 1/2/4/8 through a CRC-verified PLTE, RGB/gray+alpha/RGBA at
    * 8/16 — and BOTH interlace methods (Adam7's seven independently-
    * filtered passes scatter to their grid; tRNS ignored, transparent
    * pixels take their palette RGB — the GIF posture).
    * Corrupt/malformed input returns None, never a task failure; the
    * pre-inflate allocation is bounded by DEFLATE's maximum expansion
    * (1032:1, zlib's documented worst case) over the actual IDAT byte
    * count, so a 60-byte file declaring 20000×20000 cannot demand a
    * multi-GB buffer. */
  private[graft] def decodePngGray(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 45) return None // sig + IHDR + minimal IDAT + IEND
    val sig = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0D, 0x0A, 0x1A, 0x0A)
    var i = 0
    while (i < 8) { if ((b(i) & 0xFF) != sig(i)) return None; i += 1 }
    val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
    def chunkCrcOk(typeOff: Int, dataLen: Int): Boolean = {
      val crc = new java.util.zip.CRC32
      crc.update(b, typeOff, 4 + dataLen)
      crc.getValue.toInt == bb.getInt(typeOff + 4 + dataLen)
    }
    // IHDR is required first (RFC 2083 §4.1.1)
    if (bb.getInt(8) != 13 || b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R')
      return None
    if (!chunkCrcOk(12, 13)) return None
    val w = bb.getInt(16)
    val h = bb.getInt(20)
    val bitDepth = b(24) & 0xFF
    val colorType = b(25) & 0xFF
    val interlace = b(28) & 0xFF
    if (w <= 0 || h <= 0 || interlace > 1 ||
        (b(26) & 0xFF) != 0 || (b(27) & 0xFF) != 0) return None
    val channels = colorType match {
      case 0 => 1 // grayscale
      case 2 => 3 // RGB
      case 3 => 1 // palette indices
      case 4 => 2 // gray + alpha
      case 6 => 4 // RGBA
      case _ => return None
    }
    // legal depth sets per colour type (RFC 2083 §4.1.1)
    val depthOk = colorType match {
      case 0 => bitDepth == 1 || bitDepth == 2 || bitDepth == 4 ||
        bitDepth == 8 || bitDepth == 16
      case 3 => bitDepth == 1 || bitDepth == 2 || bitDepth == 4 || bitDepth == 8
      case _ => bitDepth == 8 || bitDepth == 16
    }
    if (!depthOk) return None
    // Adam7 pass grid (xStart, yStart, xStep, yStep); non-interlaced is
    // one full pass. Each pass is an independently-filtered sub-image,
    // concatenated in the inflated stream (RFC 2083 §2.6)
    val passes: Seq[(Int, Int, Int, Int)] =
      if (interlace == 0) Seq((0, 0, 1, 1))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    def passDims(p: (Int, Int, Int, Int)): (Int, Int) = {
      val (x0, y0, dx, dy) = p
      (if (w > x0) (w - x0 + dx - 1) / dx else 0,
        if (h > y0) (h - y0 + dy - 1) / dy else 0)
    }
    def rowBytesOf(pw: Int): Long = (pw.toLong * channels * bitDepth + 7) / 8
    val rawLen = passes.map { p =>
      val (pw, ph) = passDims(p)
      if (pw == 0 || ph == 0) 0L else ph.toLong * (rowBytesOf(pw) + 1)
    }.sum
    if (rawLen == 0 || rawLen > Int.MaxValue - 8) return None
    // chunk walk: concatenate IDAT payloads, capture PLTE, stop at IEND
    val idat = new java.io.ByteArrayOutputStream()
    var plte: Array[Byte] = null
    var pos = 33 // first chunk after IHDR's CRC
    var done = false
    while (!done) {
      if (pos + 12 > b.length) return None // truncated chunk header/CRC
      val len = bb.getInt(pos)
      if (len < 0 || pos + 12 + len.toLong > b.length) return None
      val tpe = new String(b, pos + 4, 4, "US-ASCII")
      if (tpe == "IDAT") {
        if (!chunkCrcOk(pos + 4, len)) return None
        idat.write(b, pos + 8, len)
      } else if (tpe == "PLTE") {
        if (!chunkCrcOk(pos + 4, len) || len % 3 != 0 || len > 768) return None
        plte = java.util.Arrays.copyOfRange(b, pos + 8, pos + 8 + len)
      } else if (tpe == "IEND") done = true
      // ancillary chunks (tEXt, gAMA, tRNS ...) are skipped without CRC
      // cost (transparency takes its palette RGB — the GIF posture)
      pos += 12 + len
    }
    if (colorType == 3 && plte == null) return None
    val comp = idat.toByteArray
    if (comp.isEmpty) return None
    // DEFLATE's hard expansion ceiling bounds the allocation a crafted
    // header can demand: raw cannot legally exceed ~1032x the stream
    if (rawLen > comp.length.toLong * 1032L + 4096L) return None
    val raw = graft.serde.Zlib.inflateExact(comp, 0, comp.length, nowrap = false,
      rawLen.toInt).getOrElse(return None) // corrupt, truncated or short pixel data
    // unfilter per pass (RFC 2083 §6): each row starts with its filter
    // type, `prev` never crosses a pass boundary. The filter unit is the
    // byte-ceiling bpp (1 for sub-byte packing)
    val fbpp = math.max(1, channels * bitDepth / 8)
    def paeth(a: Int, bb2: Int, c: Int): Int = {
      val p = a + bb2 - c
      val pa = math.abs(p - a); val pb = math.abs(p - bb2); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) bb2 else c
    }
    // sample → 8-bit luma at pixel xi of an unfiltered row starting at
    // rowOff: 16-bit takes the high byte (the spec's 8-bit reduction),
    // sub-byte gray rescales to full range, palette goes through PLTE
    val maxIdx = if (plte == null) 0 else plte.length / 3
    def grayOf(rowOff: Int, xi: Int): Int = colorType match {
      case 0 =>
        bitDepth match {
          case 16 => raw(rowOff + xi * 2) & 0xFF
          case 8 => raw(rowOff + xi) & 0xFF
          case d =>
            val per = 8 / d
            val v = ((raw(rowOff + xi / per) & 0xFF) >> (8 - d * (xi % per + 1))) &
              ((1 << d) - 1)
            v * 255 / ((1 << d) - 1)
        }
      case 3 =>
        val idx = bitDepth match {
          case 8 => raw(rowOff + xi) & 0xFF
          case d =>
            val per = 8 / d
            ((raw(rowOff + xi / per) & 0xFF) >> (8 - d * (xi % per + 1))) &
              ((1 << d) - 1)
        }
        if (idx >= maxIdx) -1 // out-of-palette index: corrupt, reject
        else (299 * (plte(idx * 3) & 0xFF) + 587 * (plte(idx * 3 + 1) & 0xFF) +
          114 * (plte(idx * 3 + 2) & 0xFF)) / 1000
      case 4 => raw(rowOff + xi * (if (bitDepth == 16) 4 else 2)) & 0xFF
      case _ =>
        val s = if (bitDepth == 16) 2 else 1
        val p = rowOff + xi * channels * s
        (299 * (raw(p) & 0xFF) + 587 * (raw(p + s) & 0xFF) +
          114 * (raw(p + 2 * s) & 0xFF)) / 1000
    }
    val out = new Array[Int](w * h)
    var passOff = 0
    passes.foreach { pass =>
      val (x0, y0, dx, dy) = pass
      val (pw, ph) = passDims(pass)
      if (pw > 0 && ph > 0) {
        val stride = rowBytesOf(pw).toInt
        var j = 0
        while (j < ph) {
          val rowOff = passOff + j * (stride + 1)
          val ft = raw(rowOff) & 0xFF
          if (ft > 4) return None
          val cur = rowOff + 1
          val prev = cur - (stride + 1)
          var x = 0
          while (x < stride) {
            val rx = raw(cur + x) & 0xFF
            val left = if (x >= fbpp) raw(cur + x - fbpp) & 0xFF else 0
            val up = if (j > 0) raw(prev + x) & 0xFF else 0
            val ul = if (j > 0 && x >= fbpp) raw(prev + x - fbpp) & 0xFF else 0
            val v = ft match {
              case 0 => rx
              case 1 => rx + left
              case 2 => rx + up
              case 3 => rx + (left + up) / 2
              case 4 => rx + paeth(left, up, ul)
            }
            raw(cur + x) = (v & 0xFF).toByte
            x += 1
          }
          // scatter this pass row to its interlace grid positions
          var i = 0
          while (i < pw) {
            val g = grayOf(cur, i)
            if (g < 0) return None
            out((y0 + j * dy) * w + (x0 + i * dx)) = g
            i += 1
          }
          j += 1
        }
        passOff += ph * (stride + 1)
      }
    }
    Some((w, h, out))
  }

  /** QOI ("Quite OK Image", qoiformat.org — a public-domain 2022 spec
    * one page long) → grayscale luma. 14-byte header (magic "qoif",
    * BE dims, channels 3/4, colourspace byte), then a byte-oriented op
    * stream over a running (r,g,b,a) state and a 64-entry index keyed
    * by (3r+5g+7b+11a) mod 64: RGB/RGBA literals (0xFE/0xFF), INDEX
    * (00xxxxxx), DIFF (01… two bias-2 bits per channel), LUMA (10… a
    * six-bit bias-32 dg plus four-bit bias-8 dr−dg/db−dg), RUN (11…,
    * bias −1, max 62 — 63/64 collide with the literal tags). Every
    * decoded pixel re-enters the index. Truncated/corrupt streams
    * return None; the 8-byte end marker is not demanded (honest-prefix
    * is wrong here — QOI has no per-op length, so a short stream means
    * the image is NOT reconstructible). */
  private[graft] def decodeQoiGray(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 14 + 8) return None
    if (!(b(0) == 'q' && b(1) == 'o' && b(2) == 'i' && b(3) == 'f')) return None
    val bb = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
    val w = bb.getInt(4)
    val h = bb.getInt(8)
    val channels = b(12) & 0xFF
    if (w <= 0 || h <= 0 || w.toLong * h > (1L << 28)) return None
    if ((channels != 3 && channels != 4) || (b(13) & 0xFF) > 1) return None
    val n = w * h
    val out = new Array[Int](n)
    val index = new Array[Int](64) // packed ARGB, zero-initialized per spec
    var r = 0; var g = 0; var bl = 0; var a = 255
    var p = 14
    var i = 0
    def luma(): Int = (299 * r + 587 * g + 114 * bl) / 1000
    while (i < n) {
      if (p >= b.length) return None
      val op = b(p) & 0xFF
      p += 1
      if (op == 0xFE) { // RGB literal
        if (p + 3 > b.length) return None
        r = b(p) & 0xFF; g = b(p + 1) & 0xFF; bl = b(p + 2) & 0xFF
        p += 3
      } else if (op == 0xFF) { // RGBA literal
        if (p + 4 > b.length) return None
        r = b(p) & 0xFF; g = b(p + 1) & 0xFF; bl = b(p + 2) & 0xFF; a = b(p + 3) & 0xFF
        p += 4
      } else (op >> 6) match {
        case 0 => // INDEX
          val v = index(op & 63)
          a = (v >>> 24) & 0xFF; r = (v >> 16) & 0xFF; g = (v >> 8) & 0xFF; bl = v & 0xFF
        case 1 => // DIFF, bias 2
          r = (r + ((op >> 4) & 3) - 2) & 0xFF
          g = (g + ((op >> 2) & 3) - 2) & 0xFF
          bl = (bl + (op & 3) - 2) & 0xFF
        case 2 => // LUMA: dg bias 32, dr-dg / db-dg bias 8
          if (p >= b.length) return None
          val dg = (op & 63) - 32
          val b2 = b(p) & 0xFF
          p += 1
          r = (r + dg + ((b2 >> 4) & 15) - 8) & 0xFF
          g = (g + dg) & 0xFF
          bl = (bl + dg + (b2 & 15) - 8) & 0xFF
        case _ => // RUN, bias -1 (max 62 by construction)
          var run = (op & 63) + 1
          if (i + run > n) return None
          val lv = luma()
          while (run > 0) { out(i) = lv; i += 1; run -= 1 }
          // the run repeats prev: no index update, continue the op loop
          run = -1
      }
      if ((op >> 6) != 3 || op == 0xFE || op == 0xFF) {
        // every produced pixel (incl. literal/diff/luma/index) indexes
        index((3 * r + 5 * g + 7 * bl + 11 * a) % 64) =
          (a << 24) | (r << 16) | (g << 8) | bl
        if (i >= n) return None
        out(i) = luma()
        i += 1
      }
    }
    Some((w, h, out))
  }

  /** A spec-exact QOI encoder (the standard greedy: run → index → diff
    * → luma → literal), RGB from gray triplets so decode lands on the
    * exact value. Exercises every op class on structured content. */
  def syntheticQoi(width: Int, height: Int, gray: Array[Int]): Array[Byte] = {
    require(gray.length == width * height)
    val out = new java.io.ByteArrayOutputStream()
    out.write('q'); out.write('o'); out.write('i'); out.write('f')
    def w32(v: Int): Unit = {
      out.write((v >> 24) & 0xFF); out.write((v >> 16) & 0xFF)
      out.write((v >> 8) & 0xFF); out.write(v & 0xFF)
    }
    w32(width); w32(height)
    out.write(3); out.write(0) // RGB, sRGB
    val index = new Array[Int](64)
    var pr = 0; var pg = 0; var pb = 0; val pa = 255
    var run = 0
    def flushRun(): Unit = while (run > 0) {
      val chunk = math.min(run, 62)
      out.write(0xC0 | (chunk - 1))
      run -= chunk
    }
    var i = 0
    while (i < gray.length) {
      val v = gray(i) & 0xFF
      if (v == pr && v == pg && v == pb) run += 1
      else {
        flushRun()
        val hash = (3 * v + 5 * v + 7 * v + 11 * pa) % 64
        val packed = (pa << 24) | (v << 16) | (v << 8) | v
        val dr = ((v - pr) << 24) >> 24 // wrap to signed byte per spec
        val dg = ((v - pg) << 24) >> 24
        val db = ((v - pb) << 24) >> 24
        if (index(hash) == packed) out.write(hash)
        else if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 && db >= -2 && db <= 1)
          out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
        else if (dg >= -32 && dg <= 31 && dr - dg >= -8 && dr - dg <= 7 &&
          db - dg >= -8 && db - dg <= 7) {
          out.write(0x80 | (dg + 32))
          out.write(((dr - dg + 8) << 4) | (db - dg + 8))
        } else {
          out.write(0xFE); out.write(v); out.write(v); out.write(v)
        }
        index(hash) = packed
        pr = v; pg = v; pb = v
      }
      i += 1
    }
    flushRun()
    for (_ <- 0 until 7) out.write(0)
    out.write(1)
    out.toByteArray
  }

  /** ICONDIR walk → the largest in-range entry's payload slice. */
  private def icoBestEntry(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length < 22) return None
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    if (bb.getShort(0) != 0) return None
    val typ = bb.getShort(2)
    if (typ != 1 && typ != 2) return None
    val n = bb.getShort(4) & 0xFFFF
    if (n == 0 || 6 + 16 * n > b.length) return None
    var best = -1
    var bestPx = -1L
    var i = 0
    while (i < n) {
      val e = 6 + 16 * i
      val w = if ((b(e) & 0xFF) == 0) 256 else b(e) & 0xFF
      val h = if ((b(e + 1) & 0xFF) == 0) 256 else b(e + 1) & 0xFF
      val off = bb.getInt(e + 12).toLong & 0xFFFFFFFFL
      val len = bb.getInt(e + 8).toLong & 0xFFFFFFFFL
      if (off >= 6 + 16 * n && off + len <= b.length && len >= 16 &&
          w.toLong * h > bestPx) {
        bestPx = w.toLong * h
        best = e
      }
      i += 1
    }
    if (best < 0) None
    else Some(java.util.Arrays.copyOfRange(b,
      bb.getInt(best + 12), bb.getInt(best + 12) + bb.getInt(best + 8)))
  }

  /** Header-only ICO dims (the parseBmp/parsePng sibling): the LARGEST
    * entry's payload header — PNG IHDR or the DIB's biWidth/biHeight
    * (halving the doubled XOR+AND height). */
  private[graft] def parseIco(b: Array[Byte]): Option[(Int, Int)] =
    icoBestEntry(b).flatMap { img =>
      if (img.length >= 8 && (img(0) & 0xFF) == 0x89 && img(1) == 'P') parsePng(img)
      else if (img.length >= 40) {
        val ib = ByteBuffer.wrap(img).order(ByteOrder.LITTLE_ENDIAN)
        val w = ib.getInt(4)
        val h2 = ib.getInt(8)
        if (ib.getInt(0) >= 40 && w > 0 && h2 > 0 && (h2 & 1) == 0) Some((w, h2 / 2))
        else None
      } else None
    }

  /** ICO/CUR (the favicon container a web image corpus is full of) →
    * grayscale luma of the LARGEST entry (the favicon convention). The
    * ICONDIR is a thin directory over payloads this engine already
    * decodes: a PNG stream (modern favicons) or a headerless DIB whose
    * BITMAPINFOHEADER declares DOUBLED height (XOR pixels + the 1-bpp
    * AND mask). The DIB path re-wraps the payload as a .bmp — synthesize
    * the BITMAPFILEHEADER, halve the height — and reuses
    * [[decodeBmpGray]] wholesale (palette forms, 16/32-bpp BITFIELDS,
    * both row orders all come along for free); the AND mask is ignored
    * (transparency takes content, the GIF/PNG posture). Corrupt
    * directories, out-of-range entries, and RLE-in-ICO return None. */
  private[graft] def decodeIcoGray(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    val img = icoBestEntry(b).getOrElse(return None)
    if (img.length >= 8 && (img(0) & 0xFF) == 0x89 && img(1) == 'P')
      return decodePngGray(img)
    if (img.length < 40) return None
    val ib = ByteBuffer.wrap(img).order(ByteOrder.LITTLE_ENDIAN)
    val hdrSize = ib.getInt(0)
    if (hdrSize < 40 || hdrSize > img.length) return None
    val h2 = ib.getInt(8)
    if (h2 == Int.MinValue || (h2 & 1) != 0 || h2 <= 0) return None // doubled, bottom-up
    val bpp = ib.getShort(14).toInt
    val compression = ib.getInt(16)
    if (compression != 0 && compression != 3) return None // no RLE in ICO
    val clrUsed = ib.getInt(32)
    val palN =
      if (bpp >= 1 && bpp <= 8)
        (if (clrUsed > 0 && clrUsed <= (1 << bpp)) clrUsed else 1 << bpp)
      else 0
    val masksLen = if (compression == 3 && hdrSize == 40) 12 else 0
    val dataOff = 14 + hdrSize + masksLen + 4 * palN
    val out = ByteBuffer.allocate(14 + img.length).order(ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(14 + img.length).putInt(0).putInt(dataOff)
    out.put(img)
    out.putInt(14 + 8, h2 / 2) // un-double the height for the XOR plane
    decodeBmpGray(out.array())
  }

  /** A real ICO: ICONDIR + a 4×4 DECOY entry (so largest-entry
    * selection is load-bearing) + the main image as either a
    * doubled-height 24-bpp DIB with a zeroed AND mask or a full PNG
    * stream. `width`/`height` must be ≤ 255 (the directory's byte
    * fields; 256 is the 0 encoding, not needed for fixtures). */
  def syntheticIco(width: Int, height: Int, gray: Array[Int],
      png: Boolean = false): Array[Byte] = {
    require(width > 0 && width <= 255 && height > 0 && height <= 255)
    require(gray.length == width * height)
    def dibOf(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
      val stride = ((w * 3 + 3) / 4) * 4
      val maskStride = ((w + 31) / 32) * 4
      val buf = ByteBuffer.allocate(40 + (stride + maskStride) * h)
        .order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(40).putInt(w).putInt(h * 2)
      buf.putShort(1).putShort(24).putInt(0).putInt(stride * h)
      buf.putInt(0).putInt(0).putInt(0).putInt(0)
      var y = 0
      while (y < h) {
        val srcRow = h - 1 - y // bottom-up
        var x = 0
        while (x < w) {
          val v = (px(srcRow * w + x) & 0xFF).toByte
          buf.put(v).put(v).put(v)
          x += 1
        }
        var pad = stride - w * 3
        while (pad > 0) { buf.put(0.toByte); pad -= 1 }
        y += 1
      }
      // fully-opaque AND mask
      buf.put(new Array[Byte](maskStride * h))
      buf.array()
    }
    val decoy = dibOf(4, 4, Array.fill(16)(1))
    val main = if (png) syntheticPngPixels(width, height, gray) else dibOf(width, height, gray)
    val out = ByteBuffer.allocate(6 + 32 + decoy.length + main.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.putShort(0).putShort(1).putShort(2)
    out.put(4.toByte).put(4.toByte).put(0.toByte).put(0.toByte)
    out.putShort(1).putShort(24).putInt(decoy.length).putInt(6 + 32)
    out.put(width.toByte).put(height.toByte).put(0.toByte).put(0.toByte)
    out.putShort(1).putShort(24).putInt(main.length).putInt(6 + 32 + decoy.length)
    out.put(decoy).put(main)
    out.array()
  }

  case class ImageHash(doc_id: Long, dhash: Long, ok: Boolean)

  /** Bytes → perceptual image hash, dispatched on magic bytes (not
    * trusted mime strings): the full BMP family, PNM, PNG (full inflate
    * + unfilter, [[decodePngGray]]), GIF (LZW + de-interlace,
    * [[decodeGifGray]]), baseline + progressive JPEG, and TIFF
    * ([[Tiff.decodeGray]]) decode for real, everything else is None.
    * The ONE kernel the batch operator and the streaming twin share, so
    * stream and batch fingerprint identically. */
  private[graft] def imageHashOf(m: Array[Byte]): Option[Long] =
    imageGrayOf(m).flatMap { case (w, h, px) => dHash64(w, h, px) }

  /** Bytes → (w, h, luma) in DISPLAY orientation — the magic-byte image
    * dispatch (BMP/PNM/PNG/GIF/JPEG/TIFF/ICO/QOI + EXIF normalization)
    * shared by the hash kernel and [[imageStats]]. */
  private[graft] def imageGrayOf(m: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    val gray =
      if (m != null && m.length >= 2 && m(0) == 'B' && m(1) == 'M') decodeBmpGray(m)
      else if (m != null && m.length >= 2 && m(0) == 'P') decodePnmGray(m)
      else if (m != null && m.length >= 2 && (m(0) & 0xFF) == 0x89 && m(1) == 'P')
        decodePngGray(m)
      else if (m != null && m.length >= 3 && m(0) == 'G' && m(1) == 'I' && m(2) == 'F')
        decodeGifGray(m)
      else if (m != null && m.length >= 2 && (m(0) & 0xFF) == 0xFF && (m(1) & 0xFF) == 0xD8)
        decodeJpegGray(m)
      else if (Tiff.isTiff(m)) Tiff.decodeGray(m)
      else if (m != null && m.length >= 6 && m(0) == 0 && m(1) == 0 &&
        (m(2) == 1 || m(2) == 2) && m(3) == 0)
        decodeIcoGray(m)
      else if (m != null && m.length >= 4 && m(0) == 'q' && m(1) == 'o' &&
        m(2) == 'i' && m(3) == 'f')
        decodeQoiGray(m)
      else if (m != null && m.length >= 12 && m(0) == 'R' && m(1) == 'I' &&
        m(2) == 'F' && m(3) == 'F' && Vp8l.isWebpLossless(m))
        Vp8l.decodeGray(m) // WebP lossless (round 14); lossy VP8 stays None
      else None
    // EXIF orientation normalization (round 13): hash the DISPLAY
    // orientation, so rotated/mirrored re-exports of the same photo
    // near-dup match. Carried by JPEG APP1 and TIFF tag 274; every
    // other container hashes as stored (orientation 1).
    val orient =
      if (m != null && m.length >= 2 && (m(0) & 0xFF) == 0xFF && (m(1) & 0xFF) == 0xD8)
        exifOrientationJpeg(m)
      else if (Tiff.isTiff(m)) Tiff.orientationOf(m)
      else 1
    gray.map { case (w, h, px) => applyOrientation(w, h, px, orient) }
  }

  /** Bytes → audio envelope hash (PCM WAV, FLAC, AIFF, or AU/μ-law —
    * dispatched on magic bytes) — the audio sibling of [[imageHashOf]],
    * shared by batch and stream. Every decoder downmixes and
    * width-normalizes identically, so any two lossless exports of the
    * same recording hash the same. */
  private[graft] def audioHashOf(m: Array[Byte]): Option[Long] =
    audioPcmOf(m).flatMap { case (_, _, s) => audioHash64(s) }

  /** Bytes → (rate, channels, int16-normalized samples), the magic-byte
    * PCM dispatch shared by the hash kernel and [[AudioStats]]. */
  private[graft] def audioPcmOf(m: Array[Byte]): Option[(Int, Int, Array[Int])] =
    if (Flac.isFlac(m)) Flac.decodePcm(m)
    else if (m != null && m.length >= 12 && m(0) == 'F' && m(1) == 'O' && m(2) == 'R' && m(3) == 'M')
      decodeAiffPcm(m)
    else if (m != null && m.length >= 4 && m(0) == '.' && m(1) == 's' && m(2) == 'n' && m(3) == 'd')
      decodeAuPcm(m)
    else decodeWavPcm(m)

  /** Bytes → sampled frame lumas, dispatched on magic: Y4M streams or
    * animated GIFs (full-screen frames), both with allocation bounded
    * by sampleFrames. The shared front half of the video kernels. */
  private[graft] def videoFramesSampled(m: Array[Byte], sampleFrames: Int)
      : Option[(Int, Int, Seq[(Int, Array[Int])])] =
    if (m != null && m.length >= 3 && m(0) == 'G' && m(1) == 'I' && m(2) == 'F')
      decodeGifFramesSampled(m, sampleFrames)
    else if (Vp8l.isWebpAnim(m)) // animated WebP joins the family (round 14)
      Vp8l.decodeAnimFramesSampled(m, sampleFrames)
    else decodeY4mGraySampled(m, sampleFrames)

  /** Bytes → DISTINCT sampled-frame hashes (Y4M or animated GIF; empty
    * when undecodable or sub-grid) — the video fingerprint set, shared
    * by batch and stream. */
  private[graft] def videoHashesOf(m: Array[Byte], sampleFrames: Int): Seq[Long] =
    videoFramesSampled(m, sampleFrames) match {
      case Some((w, h, sampled)) =>
        sampled.iterator
          .flatMap { case (_, luma) => dHash64(w, h, luma) }
          .toSeq.distinct
      case None => Seq.empty
    }

  /** Perceptual hash over GLOBAL structure (round 15) — the integer
    * sibling of the imagehash library's wHash and the DCT pHash, and
    * the second member of the image near-dup family next to [[dHash64]]
    * (which sees local gradients; crops, shifts, and re-layouts flip
    * DIFFERENT bits in the two, which is why imagehash ships both).
    * The display-oriented luma resamples to 32×32 by the same
    * replayable floor map as the dHash cells, a separable 2D
    * Walsh–Hadamard transform ([[AudioStats.whtInPlace]] on rows then
    * columns — integer adds only) takes it to sequency space, and the
    * 63 low-sequency coefficients (u,v ∈ 0..7 minus DC) threshold
    * against their MEDIAN: bit u·8+v−1 set when M(u,v) exceeds it.
    * Exposure-invariant by construction: a brightness offset lives
    * entirely in DC, and positive contrast scaling preserves every
    * median comparison. 63 bits → the sign bit stays clear, so the
    * hash is always non-negative. */
  private[graft] def wHash64(w: Int, h: Int, gray: Array[Int]): Option[Long] = {
    if (w < 8 || h < 8 || gray == null || gray.length < w * h) return None
    val sums = new Array[Long](1024)
    val counts = new Array[Long](1024)
    var y = 0
    while (y < h) {
      val cy = math.min(y.toLong * 32 / h, 31).toInt
      var x = 0
      while (x < w) {
        val cx = math.min(x.toLong * 32 / w, 31).toInt
        sums(cy * 32 + cx) += gray(y * w + x)
        counts(cy * 32 + cx) += 1
        x += 1
      }
      y += 1
    }
    val m = new Array[Long](1024)
    var i = 0
    while (i < 1024) {
      if (counts(i) > 0) m(i) = sums(i) / counts(i)
      else {
        // a dimension between 8 and 31 leaves floor-map cells EMPTY
        // (the map is only surjective from >= 32 source pixels);
        // fill by nearest-pixel gather so the transform stays total —
        // for >= 32 sources every cell has pixels and this never runs
        val cy = i / 32; val cx = i % 32
        val py = math.min(cy.toLong * h / 32, h - 1).toInt
        val px2 = math.min(cx.toLong * w / 32, w - 1).toInt
        m(i) = gray(py * w + px2)
      }
      i += 1
    }
    val buf = new Array[Long](32)
    var r = 0
    while (r < 32) { // rows: transform along x (index v)
      System.arraycopy(m, r * 32, buf, 0, 32)
      AudioStats.whtInPlace(buf)
      System.arraycopy(buf, 0, m, r * 32, 32)
      r += 1
    }
    var c = 0
    while (c < 32) { // columns: transform along y (index u)
      var k = 0
      while (k < 32) { buf(k) = m(k * 32 + c); k += 1 }
      AudioStats.whtInPlace(buf)
      k = 0
      while (k < 32) { m(k * 32 + c) = buf(k); k += 1 }
      c += 1
    }
    val coefs = new Array[Long](63)
    var u = 0
    i = 0
    while (u < 8) {
      var v = if (u == 0) 1 else 0
      while (v < 8) { coefs(i) = m(u * 32 + v); i += 1; v += 1 }
      u += 1
    }
    val sorted = coefs.clone()
    java.util.Arrays.sort(sorted)
    val med = sorted(31)
    var hash = 0L
    i = 0
    while (i < 63) {
      if (coefs(i) > med) hash |= 1L << i
      i += 1
    }
    Some(hash)
  }

  /** Batch pixel-decode → global-structure wHash per image; the
    * [[imageDHash]] posture exactly (same decode dispatch, ok = false
    * rows for undecodable bytes, pure map stage). */
  def imageWHash(ds: Dataset[Media]): Dataset[ImageHash] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.map { m =>
      imageGrayOf(m.media).flatMap { case (w, h, px) => wHash64(w, h, px) } match {
        case Some(hsh) => ImageHash(m.doc_id, hsh, ok = true)
        case None => ImageHash(m.doc_id, 0L, ok = false)
      }
    })
  }

  /** Batch pixel-decode → perceptual dHash per image. Real decode for the
    * uncompressed families (BMP 24-bpp, binary PNM — dispatched on magic
    * bytes, not trusted mime strings); anything else, including every
    * codec format, yields ok = false with dhash 0 — the honest-failure
    * posture of [[decodeMeta]], never a fabricated fingerprint. Pure map
    * stage: one task decodes its partition's images, nothing shuffles
    * until the caller joins on the hash. */
  def imageDHash(ds: Dataset[Media]): Dataset[ImageHash] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.map { m =>
      imageHashOf(m.media) match {
        case Some(hsh) => ImageHash(m.doc_id, hsh, ok = true)
        case None => ImageHash(m.doc_id, 0L, ok = false)
      }
    })
  }

  /** Image near-duplicate pairs: [[imageDHash]] fingerprints joined by the
    * shared banded Hamming machinery ([[Dedup.hammingPairs64]] — four
    * 16-bit bands, capped buckets, never an all-pairs comparison).
    * maxHamming is capped at 3 HERE because this operator advertises
    * exact recall (and its oracle is brute force) — the pigeonhole
    * guarantee over 4 bands only covers 3 bits. Undecodable images
    * (ok = false) pair with nothing — their zero hash would otherwise all
    * collide. The re-encoded/re-scaled copy detection a multimodal
    * training corpus needs, at the same shuffle shape as the text SimHash
    * dedup. */
  def imageNearDupPairs(ds: Dataset[Media], maxHamming: Int = 2,
      maxBucket: Int = 500): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"exact recall holds only for maxHamming <= 3, got $maxHamming")
    Dedup.hammingPairs64(
      imageDHash(ds).filter(col("ok")).toDF(),
      "doc_id", "dhash", maxHamming, maxBucket)
  }

  /** The [[imageNearDupPairs]] shape over the GLOBAL-structure hash
    * (round 15): same banded Hamming machinery, same exact-recall
    * bound — the wHash lens catches re-layouts dHash's local gradients
    * miss, so running both and unioning pairs is the two-lens image
    * dedup a multimodal corpus actually wants. */
  def imageNearDupPairsW(ds: Dataset[Media], maxHamming: Int = 2,
      maxBucket: Int = 500): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"exact recall holds only for maxHamming <= 3, got $maxHamming")
    Dedup.hammingPairs64(
      imageWHash(ds).filter(col("ok")).toDF(),
      "doc_id", "dhash", maxHamming, maxBucket)
  }

  /** Batch decode → image metadata. mapPartitions so a real decoder is
    * initialized once per partition, not per record. BMP, PNM, PNG, GIF
    * and JPEG parse their actual headers; a PARSE FAILURE on those mimes
    * is a zeroed row (the [[decodeAudioMeta]] posture) — fabricating
    * plausible stub dimensions for corrupt bytes would make bad scrapes
    * indistinguishable from real decodes, and `n_frames = 0` makes
    * [[sampleFrames]] emit nothing for them. Only mimes with NO parser
    * here (codec video/audio formats, pending a library) take the
    * documented deterministic stub. Still images report n_frames = 1. */
  def decodeMeta(ds: Dataset[Media]): Dataset[MediaMeta] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      // real impl for codec formats: decoder init here (once per partition)
      it.map { m =>
        val len = if (m.media == null) 0L else m.media.length.toLong
        val parsed = m.mime match {
          case "image/bmp" => parseBmp(m.media)
          case "image/x-portable-pixmap" | "image/x-portable-graymap" => parsePnm(m.media)
          case "image/png" => parsePng(m.media)
          case "image/gif" => parseGif(m.media)
          case "image/jpeg" => parseJpeg(m.media)
          case "image/tiff" => Tiff.parseDims(m.media)
          case "image/x-icon" | "image/vnd.microsoft.icon" => parseIco(m.media)
          case _ => null // no parser for this mime → the documented stub
        }
        parsed match {
          case Some((w, h)) => MediaMeta(m.doc_id, len, w, h, 1)
          case None => MediaMeta(m.doc_id, len, 0, 0, 0) // corrupt bytes: honest failure row
          case null =>
            // STUB decode: deterministic fake dimensions from content length
            MediaMeta(m.doc_id, len, 1 + (len % 640).toInt, 1 + (len % 480).toInt, 1 + (len % 16).toInt)
        }
      }
    }
  }

  // MPEG audio Layer III constants (ISO 11172-3 / 13818-3 public
  // tables): bitrate columns for MPEG-1 and MPEG-2/2.5, sample rates
  // per version. Index 0 is free-format (length not derivable from the
  // header), 15 is forbidden.
  private[graft] val Mp3BitrateV1L3: Array[Int] =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private[graft] val Mp3BitrateV2L3: Array[Int] =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private[graft] val Mp3RatesV1: Array[Int] = Array(44100, 48000, 32000)
  private[graft] val Mp3RatesV2: Array[Int] = Array(22050, 24000, 16000)
  private[graft] val Mp3RatesV25: Array[Int] = Array(11025, 12000, 8000)

  /** MP3 METADATA parse — the honest step short of full decode (the
    * Huffman+IMDCT audio decode remains the documented stub): skip an
    * ID3v2 tag by its syncsafe length (+footer), scan to the first
    * valid Layer III frame header, then walk frame to frame by the
    * header length formula ⌊cst·bitrate/rate⌋+padding (cst = 144 for
    * MPEG-1's 1152-sample frames, 72 for MPEG-2/2.5's 576) — VBR
    * streams vary the bitrate index per frame, so every frame's length
    * is computed from its own header. The walk demands version/rate
    * consistency; a desync, a free-format frame, or the trailing ID3v1
    * "TAG" block ends it (honest prefix). Returns (rate, channels,
    * totalSamples) — the [[decodeAudioMeta]] triple. Layers I/II and
    * reserved fields return None (scoped, not silently wrong). */
  private[graft] def parseMp3(b: Array[Byte]): Option[(Int, Int, Long)] = {
    if (b == null || b.length < 4) return None
    var pos = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val sz = ((b(6) & 0x7F) << 21) | ((b(7) & 0x7F) << 14) |
        ((b(8) & 0x7F) << 7) | (b(9) & 0x7F)
      val footer = if ((b(5) & 0x10) != 0) 10 else 0
      val skip = 10L + sz + footer
      if (skip >= b.length) return None
      pos = skip.toInt
    }
    // (frameLen, rate, samplesPerFrame, channels) at p, or None
    def hdrAt(p: Int): Option[(Int, Int, Int, Int)] = {
      if (p + 4 > b.length) return None
      if ((b(p) & 0xFF) != 0xFF || (b(p + 1) & 0xE0) != 0xE0) return None
      val verBits = (b(p + 1) >> 3) & 3 // 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
      val layerBits = (b(p + 1) >> 1) & 3 // 1 = Layer III
      if (layerBits != 1 || verBits == 1) return None
      val brIdx = (b(p + 2) >> 4) & 0xF
      val srIdx = (b(p + 2) >> 2) & 3
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
      val rate = (verBits match {
        case 3 => Mp3RatesV1
        case 2 => Mp3RatesV2
        case _ => Mp3RatesV25
      })(srIdx)
      val v1 = verBits == 3
      val kbps = (if (v1) Mp3BitrateV1L3 else Mp3BitrateV2L3)(brIdx)
      val pad = (b(p + 2) >> 1) & 1
      val fl = (if (v1) 144 else 72) * kbps * 1000 / rate + pad
      val mode = (b(p + 3) >> 6) & 3
      Some((fl, rate, if (v1) 1152 else 576, if (mode == 3) 1 else 2))
    }
    // scraped files carry junk between the tag and the first frame —
    // scan forward for the first header that validates
    var first: Option[(Int, Int, Int, Int)] = None
    while (first.isEmpty && pos + 4 <= b.length) {
      first = hdrAt(pos)
      if (first.isEmpty) pos += 1
    }
    first.flatMap { case (_, rate, spf, ch) =>
      var frames = 0L
      var cont = true
      while (cont) {
        hdrAt(pos) match {
          case Some((fl, r2, s2, _)) if r2 == rate && s2 == spf && fl > 4 =>
            frames += 1; pos += fl
          case _ => cont = false
        }
      }
      if (frames == 0) None else Some((rate, ch, frames * spf))
    }
  }

  /** ID3v2 TEXT-frame extraction (round 13) — title/artist/album are the
    * curation signals a scraped-audio corpus filters on. Structural
    * walk, no lookup data: ID3v2.3 (plain big-endian frame sizes) and
    * v2.4 (syncsafe), frame header = 4-char id + size + 2 flag bytes,
    * text frames carry an encoding byte (0 Latin-1, 1 UTF-16 w/ BOM,
    * 2 UTF-16BE, 3 UTF-8) then the text, trailing NULs stripped.
    * Unknown frames skip by size; padding (zero id) ends the walk;
    * anything structurally unreadable yields the frames parsed so far —
    * advisory metadata, the [[exifOrientationJpeg]] posture. */
  private[graft] def id3TextFrames(b: Array[Byte]): Map[String, String] = {
    if (b == null || b.length < 10 ||
      !(b(0) == 'I' && b(1) == 'D' && b(2) == '3')) return Map.empty
    try {
      val ver = b(3) & 0xFF
      if (ver != 3 && ver != 4) return Map.empty
      val tagEnd = math.min(b.length.toLong,
        10L + (((b(6) & 0x7F) << 21) | ((b(7) & 0x7F) << 14) |
          ((b(8) & 0x7F) << 7) | (b(9) & 0x7F))).toInt
      val out = scala.collection.mutable.LinkedHashMap[String, String]()
      var p = 10
      var stop = false
      while (!stop && p + 10 <= tagEnd) {
        if (b(p) == 0) stop = true // padding
        else {
          val fid = new String(b, p, 4, "ISO-8859-1")
          val sz =
            if (ver == 4)
              ((b(p + 4) & 0x7F) << 21) | ((b(p + 5) & 0x7F) << 14) |
                ((b(p + 6) & 0x7F) << 7) | (b(p + 7) & 0x7F)
            else
              ((b(p + 4) & 0xFF) << 24) | ((b(p + 5) & 0xFF) << 16) |
                ((b(p + 6) & 0xFF) << 8) | (b(p + 7) & 0xFF)
          if (sz < 0 || p + 10 + sz > tagEnd) stop = true
          else {
            if (fid.startsWith("T") && fid != "TXXX" && sz >= 1 &&
                fid.forall(c => c.isUpper || c.isDigit)) {
              val enc = b(p + 10) & 0xFF
              val charset = enc match {
                case 0 => "ISO-8859-1"
                case 1 => "UTF-16" // BOM-led
                case 2 => "UTF-16BE"
                case _ => "UTF-8"
              }
              val text = new String(b, p + 11, sz - 1, charset)
                .replaceAll("\\x00+$", "")
              out(fid) = text
            }
            p += 10 + sz
          }
        }
      }
      out.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** The fixture side of [[id3TextFrames]]: a frames-only ID3v2 payload
    * (no 10-byte header — [[syntheticMp3]] adds it, with `id3Version`
    * picking the matching size format) plus trailing padding. */
  def id3FramesPayload(version: Int, frames: Seq[(String, String)],
      encoding: Int, padding: Int = 0): Array[Byte] = {
    require(version == 3 || version == 4)
    require(Seq(0, 1, 2, 3).contains(encoding))
    val out = new java.io.ByteArrayOutputStream()
    frames.foreach { case (fid, text) =>
      require(fid.length == 4)
      val charset = encoding match {
        case 0 => "ISO-8859-1"
        case 1 => "UTF-16" // writes a BOM
        case 2 => "UTF-16BE"
        case _ => "UTF-8"
      }
      val tb = text.getBytes(charset)
      val sz = tb.length + 1
      out.write(fid.getBytes("ISO-8859-1"), 0, 4)
      if (version == 4) {
        out.write((sz >> 21) & 0x7F); out.write((sz >> 14) & 0x7F)
        out.write((sz >> 7) & 0x7F); out.write(sz & 0x7F)
      } else {
        out.write((sz >> 24) & 0xFF); out.write((sz >> 16) & 0xFF)
        out.write((sz >> 8) & 0xFF); out.write(sz & 0xFF)
      }
      out.write(0); out.write(0) // frame flags
      out.write(encoding)
      out.write(tb, 0, tb.length)
    }
    var i = 0
    while (i < padding) { out.write(0); i += 1 }
    out.toByteArray
  }

  /** A REAL MP3 frame sequence for the metadata walk: optional ID3v2
    * tag (syncsafe length over the given payload), per-frame Layer III
    * headers whose (bitrateIdx, padding) vary per frame (the VBR
    * shape), formula-irrelevant payload bytes, and an optional ID3v1
    * "TAG" trailer. `version1` picks MPEG-1 (1152-sample frames,
    * 44100/48000/32000 by srIdx) vs MPEG-2 (576, 22050/24000/16000). */
  def syntheticMp3(version1: Boolean, srIdx: Int,
      frames: Seq[(Int, Int)], id3Payload: Array[Byte],
      channels: Int = 1, trailingTag: Boolean = false,
      id3Version: Int = 4): Array[Byte] = {
    require(srIdx >= 0 && srIdx <= 2)
    require(id3Version == 3 || id3Version == 4)
    require(frames.nonEmpty && frames.forall { case (br, pad) =>
      br >= 1 && br <= 14 && (pad == 0 || pad == 1) })
    val rate = (if (version1) Mp3RatesV1 else Mp3RatesV2)(srIdx)
    val out = new java.io.ByteArrayOutputStream()
    if (id3Payload.nonEmpty) {
      out.write('I'); out.write('D'); out.write('3')
      out.write(id3Version); out.write(0); out.write(0) // v2.3/v2.4, no flags
      val sz = id3Payload.length
      out.write((sz >> 21) & 0x7F); out.write((sz >> 14) & 0x7F)
      out.write((sz >> 7) & 0x7F); out.write(sz & 0x7F)
      out.write(id3Payload, 0, sz)
    }
    frames.foreach { case (brIdx, pad) =>
      val kbps = (if (version1) Mp3BitrateV1L3 else Mp3BitrateV2L3)(brIdx)
      val fl = (if (version1) 144 else 72) * kbps * 1000 / rate + pad
      out.write(0xFF)
      out.write(0xE0 | ((if (version1) 3 else 2) << 3) | (1 << 1) | 1) // ver, L3, no CRC
      out.write((brIdx << 4) | (srIdx << 2) | (pad << 1))
      out.write(((if (channels == 1) 3 else 0) << 6))
      var k = 4
      while (k < fl) { out.write((k * 37 + brIdx * 11) & 0xFF); k += 1 }
    }
    if (trailingTag) {
      out.write('T'); out.write('A'); out.write('G')
      var k = 3
      while (k < 128) { out.write(0); k += 1 }
    }
    out.toByteArray
  }

  /** Batch decode → PCM audio metadata — real header walks for every
    * audio container the engine decodes (RIFF/WAVE chunks, FLAC
    * STREAMINFO, AIFF COMM, the AU header) plus the MP3 frame-header
    * walk (ID3 skip + per-frame VBR lengths — metadata only, the audio
    * decode stays the documented stub), dispatched on magic bytes;
    * unrecognized bytes yield a zeroed row rather than failing the
    * job — same no-NPE-mid-job posture as the rest of the engine. */
  def decodeAudioMeta(ds: Dataset[Media]): Dataset[AudioMeta] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.map { m =>
      val len = if (m.media == null) 0L else m.media.length.toLong
      val b = m.media
      val parsed: Option[(Int, Int, Long)] =
        if (Flac.isFlac(b))
          Flac.parseStreamInfo(b).map { case (rate, ch, _, n) => (rate, ch, n) }
        else if (b != null && b.length >= 12 && b(0) == 'F' && b(1) == 'O' && b(2) == 'R' && b(3) == 'M')
          parseAiff(b)
        else if (b != null && b.length >= 4 && b(0) == '.' && b(1) == 's' && b(2) == 'n' && b(3) == 'd')
          parseAu(b)
        else if (b != null && b.length >= 4 &&
            ((b(0) == 'I' && b(1) == 'D' && b(2) == '3') ||
              ((b(0) & 0xFF) == 0xFF && (b(1) & 0xE0) == 0xE0)))
          parseMp3(b)
        else parseWav(b).map { case (rate, ch, _, n) => (rate, ch, n) }
      parsed match {
        case Some((rate, ch, n)) =>
          AudioMeta(m.doc_id, len, rate, ch, n, n * 1000L / rate)
        case None => AudioMeta(m.doc_id, len, 0, 0, 0L, 0L)
      }
    })
  }

  /** Tag extraction for the audio-curation pipeline (round 13): title /
    * artist / album from ID3v2 text frames (MP3), the Vorbis-comment /
    * OpusTags header (Ogg), or the iTunes-style ilst chain (M4A/MP4),
    * dispatched on magic — one output schema for all three metadata
    * families, the [[decodeAudioMeta]] posture (absent or unreadable →
    * nulls, pure map stage, bytes never shuffle). */
  def audioTags(ds: Dataset[Media]): Dataset[AudioTags] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.map { m =>
      val b = m.media
      val tags: Map[String, String] =
        if (b != null && b.length >= 4 && b(0) == 'O' && b(1) == 'g' &&
          b(2) == 'g' && b(3) == 'S') Containers.oggComments(b)
        else if (b != null && b.length >= 3 && b(0) == 'I' && b(1) == 'D' && b(2) == '3')
          id3TextFrames(b)
        else if (b != null && b.length >= 8 && b(4) == 'f' && b(5) == 't' &&
          b(6) == 'y' && b(7) == 'p') Containers.mp4Tags(b) // M4A/MP4 ilst
        else if (b != null && b.length >= 12 && b(0) == 'R' && b(1) == 'I' &&
          b(2) == 'F' && b(3) == 'F') wavInfoTags(b) // RIFF LIST INFO
        else Map.empty
      AudioTags(m.doc_id,
        tags.get("TIT2").orElse(tags.get("TITLE")).orNull,
        tags.get("TPE1").orElse(tags.get("ARTIST")).orNull,
        tags.get("TALB").orElse(tags.get("ALBUM")).orNull)
    })
  }

  /** Frame sampling: n_frames evenly-spaced byte offsets per media row —
    * the video-frame-extraction fanout as a codegen'd generator (the real
    * decoder would emit frame tensors at these offsets). */
  def sampleFrames(meta: DataFrame): DataFrame =
    meta
      .withColumn("frame_idx", explode(sequence(lit(0), col("n_frames") - 1)))
      .withColumn("byte_offset", col("frame_idx") * (col("byte_len") / col("n_frames")).cast("long"))
}
