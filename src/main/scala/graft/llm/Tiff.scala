package graft.llm

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable

/** Baseline TIFF 6.0 decode — the remaining no-external-codec image
  * container after BMP/PNM/PNG/GIF/JPEG: an endianness-tagged header, a
  * directory (IFD) of typed tag entries, and strip-organized sample data
  * compressed with nothing, PackBits (a 1951-vintage RLE), LZW in the
  * TIFF variant (MSB-first bit packing and the spec's famous "early
  * change" off-by-one, codified in TIFF 6.0 §13 after an early
  * implementation shipped it), or Deflate (compression 8 and the legacy
  * 32946 — a zlib stream per strip, java.util.zip). Both byte orders,
  * 8-bit grayscale (PhotometricInterpretation 0 and 1) and 8-bit RGB,
  * multi-strip layouts, and the horizontal-differencing predictor
  * (tag 317 = 2) are decoded for real; tiled TIFFs, other bit depths,
  * and the fax/JPEG compressions return None — the honest-failure posture of the rest of
  * the media family (corrupt or out-of-scope input must never fail a
  * task).
  *
  * Reference semantics: the reference treats media as opaque payload
  * bytes end-to-end (kafi's bytes serde, `kafi/schemaregistry/`
  * bytes passthrough); content-level decode here serves the near-dup
  * operators, which the reference has no analogue of. Everything in this
  * file is from the public TIFF 6.0 specification (Adobe, 1992).
  */
object Tiff {

  /** TIFF magic: "II" + 42 little-endian, or "MM" + 42 big-endian. */
  private[graft] def isTiff(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 &&
      ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
       (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42))

  // one parsed IFD entry's values, widened to Long (BYTE/SHORT/LONG)
  private case class Ifd(width: Int, height: Int, bits: Array[Long], comp: Int,
      photo: Int, spp: Int, rowsPerStrip: Long, predictor: Int,
      stripOffsets: Array[Long], stripCounts: Array[Long],
      tileW: Int, tileL: Int, tileOffsets: Array[Long], tileCounts: Array[Long],
      orientation: Int = 1)

  /** First-IFD tag walk, bounds-checked everywhere: a crafted directory
    * must reject, never index out of the buffer or allocate from
    * attacker-controlled counts (the decodeBmpGray lesson — all size
    * arithmetic in Long). */
  private def readIfd(b: Array[Byte]): Option[Ifd] = {
    if (!isTiff(b)) return None
    val le = b(0) == 'I'
    val bb = ByteBuffer.wrap(b).order(if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    val ifd = bb.getInt(4).toLong & 0xFFFFFFFFL
    if (ifd < 8 || ifd + 2 > b.length) return None
    val n = bb.getShort(ifd.toInt) & 0xFFFF
    if (ifd + 2 + n.toLong * 12 > b.length) return None

    // entry value reader: BYTE(1)/SHORT(3)/LONG(4) widen to Long; values
    // sit inline at the entry's value field when they fit in 4 bytes,
    // else behind an absolute offset. Anything else → null (reject).
    def values(e: Int): Array[Long] = {
      val typ = bb.getShort(e + 2) & 0xFFFF
      val count = bb.getInt(e + 4).toLong & 0xFFFFFFFFL
      val sz = typ match { case 1 => 1L; case 3 => 2L; case 4 => 4L; case _ => return null }
      val total = sz * count
      if (count == 0 || count > 4096) return null // no real baseline TIFF needs more
      val off = if (total <= 4) e + 8L else bb.getInt(e + 8).toLong & 0xFFFFFFFFL
      if (off < 0 || off + total > b.length) return null
      Array.tabulate(count.toInt) { i =>
        val p = (off + i * sz).toInt
        typ match {
          case 1 => (b(p) & 0xFF).toLong
          case 3 => (bb.getShort(p) & 0xFFFF).toLong
          case _ => bb.getInt(p).toLong & 0xFFFFFFFFL
        }
      }
    }

    var w = 0L; var h = 0L; var comp = 1L; var photo = 1L; var spp = 1L
    var rps = 0xFFFFFFFFL; var pred = 1L
    var bits: Array[Long] = Array(1L) // spec default BitsPerSample = 1
    var offs: Array[Long] = null; var cnts: Array[Long] = null
    var tw = 0L; var tl = 0L
    var tOffs: Array[Long] = null; var tCnts: Array[Long] = null
    var orient = 1L
    var i = 0
    while (i < n) {
      val e = (ifd + 2 + i * 12).toInt
      val tag = bb.getShort(e) & 0xFFFF
      if (Set(256, 257, 258, 259, 262, 273, 274, 277, 278, 279, 317,
          322, 323, 324, 325).contains(tag)) {
        val v = values(e)
        if (v == null) return None
        tag match {
          case 256 => w = v(0)
          case 257 => h = v(0)
          case 258 => bits = v
          case 259 => comp = v(0)
          case 262 => photo = v(0)
          case 273 => offs = v
          case 274 => orient = v(0)
          case 277 => spp = v(0)
          case 278 => rps = v(0)
          case 279 => cnts = v
          case 322 => tw = v(0)
          case 323 => tl = v(0)
          case 324 => tOffs = v
          case 325 => tCnts = v
          case _ => pred = v(0)
        }
      }
      i += 1
    }
    val stripped = offs != null && cnts != null
    val tiled = tOffs != null && tCnts != null && tw > 0 && tl > 0
    if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20) || (!stripped && !tiled))
      return None
    Some(Ifd(w.toInt, h.toInt, bits, comp.toInt, photo.toInt, spp.toInt, rps, pred.toInt,
      offs, cnts, tw.toInt, tl.toInt, tOffs, tCnts,
      if (orient >= 1 && orient <= 8) orient.toInt else 1))
  }

  /** EXIF/TIFF orientation (tag 274), 1 when absent/unreadable — the
    * advisory-metadata posture [[Multimodal.exifOrientationJpeg]]
    * documents. */
  private[graft] def orientationOf(b: Array[Byte]): Int =
    readIfd(b).map(_.orientation).getOrElse(1)

  /** Header-only dimensions (the parseBmp/parsePng sibling). */
  private[graft] def parseDims(b: Array[Byte]): Option[(Int, Int)] =
    readIfd(b).map(ifd => (ifd.width, ifd.height))

  /** PackBits (TIFF 6.0 §9): control byte n ∈ [0,127] copies n+1 literal
    * bytes, n ∈ [-127,-1] repeats the next byte 1−n times, −128 is a
    * no-op. Decodes into `out` from `outPos`, at most `need` bytes;
    * returns bytes produced or −1 on truncation. */
  private def packBitsDecode(b: Array[Byte], off: Int, len: Int,
      out: Array[Byte], outPos: Int, need: Int): Int = {
    var p = off
    val end = math.min(off.toLong + len, b.length.toLong).toInt
    var o = outPos
    val outEnd = outPos + need
    while (o < outEnd && p < end) {
      val ctl = b(p).toInt; p += 1
      if (ctl >= 0) {
        val cnt = math.min(ctl + 1, outEnd - o)
        if (p + ctl + 1 > end) return -1
        System.arraycopy(b, p, out, o, cnt)
        p += ctl + 1; o += cnt
      } else if (ctl != -128) {
        if (p >= end) return -1
        val v = b(p); p += 1
        var k = math.min(1 - ctl, outEnd - o)
        while (k > 0) { out(o) = v; o += 1; k -= 1 }
      }
    }
    o - outPos
  }

  /** Full grayscale decode: IFD → per-segment decompress (STRIPS or, new
    * in round 13, TILES — tags 322-325, each tile a full tileW×tileL
    * block decompressed independently and scattered with edge clipping,
    * TIFF 6.0 §15) → optional horizontal-differencing undo → photometric
    * mapping to the family's shared integer BT.601 luma. Supports 8-bit
    * gray (photo 0 inverted, photo 1 direct), 8-bit RGB, and (round 13)
    * 16-BIT grayscale in either byte order (reduced to the high byte,
    * the PNG-16 rule, so re-exports land on the same hash); compression
    * 1 (none), 5 (LZW), 32773 (PackBits), 8/32946 (Deflate). Predictor 2
    * is 8-bit-scoped (16-bit differencing → None, scoped not wrong).
    * Truncated segment data → None. Same return shape as
    * [[Multimodal.decodeBmpGray]]. Both additions are cross-validated
    * against ImageIO's OWN tiled writer / USHORT_GRAY writer in
    * MediaInteropSpec — the external-oracle rule that caught the r11
    * LZW width-switch off-by-one. */
  private[graft] def decodeGray(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    val ifd = readIfd(b).getOrElse(return None)
    import ifd._
    val bpsB =
      if (bits.length >= spp && bits.take(spp).forall(_ == 8L)) 1
      else if (bits.length >= spp && bits.take(spp).forall(_ == 16L)) 2
      else return None
    if (!(spp == 1 || spp == 3)) return None
    if (bpsB == 2 && spp != 1) return None // 16-bit scoped to grayscale
    if (photo != 0 && photo != 1 && photo != 2) return None
    if (photo == 2 && spp != 3) return None
    if (comp != 1 && comp != 5 && comp != 32773 && comp != 8 && comp != 32946)
      return None
    if (predictor != 1 && predictor != 2) return None
    if (predictor == 2 && bpsB == 2) return None // 16-bit differencing unsupported
    val px = spp * bpsB // bytes per pixel
    val rowBytes = width * px
    if (width.toLong * height * px > (64L << 20)) return None // absurd-dims guard
    val raw = new Array[Byte](rowBytes * height)
    // one segment (strip or tile) decompressed into dst[dstPos, dstPos+need)
    def decompress(off: Long, cnt: Long, dst: Array[Byte], dstPos: Int, need: Int): Boolean = {
      if (off < 0 || off > b.length || cnt < 0) return false
      val got = comp match {
        case 1 =>
          if (off + need > b.length || cnt < need) -1
          else { System.arraycopy(b, off.toInt, dst, dstPos, need); need }
        case 5 =>
          graft.serde.Lzw.decode(b, off.toInt, math.min(cnt, b.length - off).toInt,
            earlyChange = true, need).fold(-1) { d =>
            System.arraycopy(d, 0, dst, dstPos, d.length); d.length
          }
        case 8 | 32946 => // Adobe deflate (8) and the legacy code (32946):
          // a plain zlib stream per segment
          graft.serde.Zlib.inflateExact(b, off.toInt, math.min(cnt, b.length - off).toInt,
            nowrap = false, need).fold(-1) { d =>
            System.arraycopy(d, 0, dst, dstPos, need); need
          }
        case _ => packBitsDecode(b, off.toInt, math.min(cnt, b.length - off).toInt,
          dst, dstPos, need)
      }
      got == need
    }
    def undoPredictor(buf: Array[Byte], nRows: Int, rb: Int): Unit = {
      var y = 0
      while (y < nRows) {
        val base = y * rb
        var x = spp
        while (x < rb) {
          buf(base + x) = (buf(base + x) + buf(base + x - spp)).toByte
          x += 1
        }
        y += 1
      }
    }
    val tiled = tileOffsets != null
    if (!tiled) {
      val rps = math.min(rowsPerStrip, height.toLong)
      if (rps <= 0) return None
      val nStrips = ((height + rps - 1) / rps).toInt
      if (stripOffsets.length < nStrips || stripCounts.length < nStrips) return None
      var s = 0
      var row = 0
      while (s < nStrips) {
        val rows = math.min(rps, height.toLong - row).toInt
        if (!decompress(stripOffsets(s), stripCounts(s), raw, row * rowBytes, rows * rowBytes))
          return None
        s += 1; row += rows
      }
      if (predictor == 2) undoPredictor(raw, height, rowBytes)
    } else {
      // TIFF 6.0 §15: every tile is a FULL tileW×tileL block (writers pad
      // the right/bottom edges), laid out left-to-right, top-to-bottom;
      // predictor state resets per tile row like per strip row
      val across = (width + tileW - 1) / tileW
      val down = (height + tileL - 1) / tileL
      if (across.toLong * down > 65536) return None
      if (tileOffsets.length < across * down || tileCounts.length < across * down)
        return None
      val tileRowBytes = tileW * px
      val tileBytes = tileRowBytes * tileL
      if (tileBytes <= 0 || tileBytes > (64 << 20)) return None
      val tbuf = new Array[Byte](tileBytes)
      var t = 0
      var ty = 0
      while (ty < down) {
        var tx = 0
        while (tx < across) {
          if (!decompress(tileOffsets(t), tileCounts(t), tbuf, 0, tileBytes)) return None
          if (predictor == 2) undoPredictor(tbuf, tileL, tileRowBytes)
          val y0 = ty * tileL
          val x0 = tx * tileW
          val copyRows = math.min(tileL, height - y0)
          val copyBytes = math.min(tileW, width - x0) * px
          var r = 0
          while (r < copyRows) {
            System.arraycopy(tbuf, r * tileRowBytes, raw, (y0 + r) * rowBytes + x0 * px, copyBytes)
            r += 1
          }
          t += 1; tx += 1
        }
        ty += 1
      }
    }
    val le = b(0) == 'I'
    val out = new Array[Int](width * height)
    var i = 0
    while (i < out.length) {
      out(i) =
        if (spp == 3) {
          val p = i * 3
          (299 * (raw(p) & 0xFF) + 587 * (raw(p + 1) & 0xFF) + 114 * (raw(p + 2) & 0xFF)) / 1000
        } else {
          val v =
            if (bpsB == 1) raw(i) & 0xFF
            else raw(2 * i + (if (le) 1 else 0)) & 0xFF // 16-bit high byte
          if (photo == 0) 255 - v else v
        }
      i += 1
    }
    Some((width, height, out))
  }

  // ------------------------------------------------------------------
  // Synthetic encoder — the fixture side, a REAL TIFF writer so the
  // decoder above is load-bearing in the oracled queries.
  // ------------------------------------------------------------------

  private def packBitsEncode(row: Array[Byte]): Array[Byte] = {
    val out = mutable.ArrayBuffer[Byte]()
    var i = 0
    while (i < row.length) {
      var run = 1
      while (i + run < row.length && run < 128 && row(i + run) == row(i)) run += 1
      if (run >= 3) {
        out += (1 - run).toByte += row(i)
        i += run
      } else {
        // literal run: until the next >=3 repeat or 128 bytes
        val start = i
        var j = i
        var rep = 1
        while (j < row.length && j - start < 128 && rep < 3) {
          j += 1
          rep = if (j < row.length && row(j) == row(j - 1)) rep + 1 else 1
        }
        val lit = (if (rep >= 3) j - 2 else j) - start
        out += (lit - 1).toByte
        out ++= row.slice(start, start + lit)
        i = start + lit
      }
    }
    out.toArray
  }

  /** Render 8-bit grayscale pixels through a REAL TIFF: either byte
    * order, gray (spp=1) or equal-channel RGB (spp=3 — BT.601 of (v,v,v)
    * is exactly v, so the pixel replay stays container-blind),
    * compression none/LZW/PackBits/Deflate, optional horizontal-
    * differencing predictor with LZW/Deflate, multi-strip via
    * rowsPerStrip — or (round 13) square TILES via `tileSize` (full
    * padded edge tiles, tags 322-325 replacing the strip tags) and
    * 16-BIT grayscale via `bits16` (stores g·257 in the file byte
    * order, so the decoder's high-byte reduction returns g exactly;
    * WhiteIsZero stores the 16-bit inverse). IFD entries
    * ascending by tag as the spec requires. */
  def syntheticTiffPixels(width: Int, height: Int, gray: Array[Int],
      compression: Int = 1, rgb: Boolean = false, predictor: Int = 1,
      rowsPerStrip: Int = 8, bigEndian: Boolean = false,
      photoZero: Boolean = false, tileSize: Int = 0,
      bits16: Boolean = false, orientation: Int = 1): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8)
    require(gray.length == width * height, "gray must be width*height")
    require(compression == 1 || compression == 5 || compression == 32773 ||
      compression == 8)
    require(predictor == 1 ||
      (predictor == 2 && (compression == 5 || compression == 8)),
      "predictor 2 only with LZW/Deflate here")
    require(!(photoZero && rgb), "WhiteIsZero is a grayscale interpretation")
    require(!(bits16 && (rgb || predictor == 2)), "16-bit is grayscale, no predictor")
    require(tileSize >= 0)
    val spp = if (rgb) 3 else 1
    val bpsB = if (bits16) 2 else 1
    val px = spp * bpsB
    // one pixel's stored bytes at (y, x): 16-bit stores g·257 (so the
    // high byte IS g — the reduction the decoder performs), WhiteIsZero
    // stores the bitwise inverse at either depth
    def putPixel(dst: Array[Byte], at: Int, y: Int, x: Int): Unit = {
      val g = gray(y * width + x) & 0xFF
      if (bits16) {
        val v16 = if (photoZero) 65535 - g * 257 else g * 257
        if (bigEndian) { dst(at) = (v16 >> 8).toByte; dst(at + 1) = v16.toByte }
        else { dst(at) = v16.toByte; dst(at + 1) = (v16 >> 8).toByte }
      } else {
        val v = (if (photoZero) 255 - g else g).toByte
        if (rgb) { dst(at) = v; dst(at + 1) = v; dst(at + 2) = v }
        else dst(at) = v
      }
    }
    def compress(raw: Array[Byte], rows: Int, rb: Int): Array[Byte] = {
      if (predictor == 2) { // difference each row before compressing
        var rr = rows - 1
        while (rr >= 0) {
          var x = rb - 1
          while (x >= spp) { raw(rr * rb + x) = (raw(rr * rb + x) - raw(rr * rb + x - spp)).toByte; x -= 1 }
          rr -= 1
        }
      }
      compression match {
        case 1 => raw
        case 5 => graft.serde.Lzw.encode(raw)
        case 8 => // Adobe deflate: one zlib stream per segment
          val defl = new java.util.zip.Deflater()
          defl.setInput(raw); defl.finish()
          val cb = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          while (!defl.finished()) cb.write(tmp, 0, defl.deflate(tmp))
          defl.end()
          cb.toByteArray
        case _ => {
          val rowsEnc = (0 until rows).map(rr => packBitsEncode(raw.slice(rr * rb, (rr + 1) * rb)))
          rowsEnc.reduceLeft(_ ++ _) // PackBits restarts per row (spec §9)
        }
      }
    }
    val rowBytes = width * px
    val rps = math.max(1, math.min(rowsPerStrip, height))
    val nStrips = (height + rps - 1) / rps
    // segment payloads: strips, or full padded tiles (TIFF 6.0 §15)
    val strips: IndexedSeq[Array[Byte]] =
      if (tileSize > 0) {
        val across = (width + tileSize - 1) / tileSize
        val down = (height + tileSize - 1) / tileSize
        val trb = tileSize * px
        for (ty <- 0 until down; tx <- 0 until across) yield {
          val raw = new Array[Byte](trb * tileSize) // zero-padded edges
          var r = 0
          while (r < tileSize) {
            val y = ty * tileSize + r
            var c = 0
            while (c < tileSize) {
              val x = tx * tileSize + c
              if (y < height && x < width) putPixel(raw, r * trb + c * px, y, x)
              c += 1
            }
            r += 1
          }
          compress(raw, tileSize, trb)
        }
      } else (0 until nStrips).map { s =>
        val rows = math.min(rps, height - s * rps)
        val raw = new Array[Byte](rows * rowBytes)
        var r = 0
        while (r < rows) {
          val y = s * rps + r
          var x = 0
          while (x < width) { putPixel(raw, r * rowBytes + x * px, y, x); x += 1 }
          r += 1
        }
        compress(raw, rows, rowBytes)
      }
    val order = if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    val tags = mutable.ArrayBuffer[(Int, Int, Int, Either[Long, Array[Long]])]() // tag, type, count, inline-or-external
    // external value areas placed between strips and IFD
    var pos = 8
    val stripOff = strips.map { st => val o = pos; pos += st.length + (st.length & 1); o }
    val extStart = pos
    val ext = mutable.ArrayBuffer[Byte]()
    def external(vals: Array[Long], typ: Int): Long = {
      val off = extStart + ext.length
      val tmp = ByteBuffer.allocate(vals.length * (if (typ == 3) 2 else 4)).order(order)
      vals.foreach(v => if (typ == 3) tmp.putShort(v.toShort) else tmp.putInt(v.toInt))
      ext ++= tmp.array()
      if (ext.length % 2 == 1) ext += 0
      off.toLong
    }
    def addTag(tag: Int, typ: Int, vals: Array[Long]): Unit = {
      val sz = (if (typ == 3) 2 else 4) * vals.length
      if (sz <= 4) tags += ((tag, typ, vals.length, Right(vals)))
      else tags += ((tag, typ, vals.length, Left(external(vals, typ))))
    }
    addTag(256, 4, Array(width.toLong))
    addTag(257, 4, Array(height.toLong))
    addTag(258, 3, Array.fill(spp)(if (bits16) 16L else 8L))
    addTag(259, 3, Array(compression.toLong))
    addTag(262, 3, Array(if (rgb) 2L else if (photoZero) 0L else 1L))
    if (orientation != 1) addTag(274, 3, Array(orientation.toLong))
    if (tileSize > 0) {
      addTag(322, 4, Array(tileSize.toLong))
      addTag(323, 4, Array(tileSize.toLong))
      addTag(324, 4, stripOff.map(_.toLong).toArray)
      addTag(325, 4, strips.map(_.length.toLong).toArray)
      addTag(277, 3, Array(spp.toLong))
    } else {
      addTag(273, 4, stripOff.map(_.toLong).toArray)
      addTag(277, 3, Array(spp.toLong))
      addTag(278, 4, Array(rps.toLong))
      addTag(279, 4, strips.map(_.length.toLong).toArray)
    }
    if (predictor == 2) addTag(317, 3, Array(2L))
    val ifdOff = extStart + ext.length
    val total = ifdOff + 2 + tags.length * 12 + 4
    val out = ByteBuffer.allocate(total).order(order)
    out.put(if (bigEndian) 'M'.toByte else 'I'.toByte)
    out.put(if (bigEndian) 'M'.toByte else 'I'.toByte)
    if (bigEndian) out.putShort(42) else { out.put(42.toByte); out.put(0.toByte) }
    out.putInt(ifdOff)
    strips.foreach { st => out.put(st); if (st.length % 2 == 1) out.put(0.toByte) }
    out.put(ext.toArray)
    out.putShort(tags.length.toShort)
    tags.sortBy(_._1).foreach { case (tag, typ, count, v) =>
      out.putShort(tag.toShort)
      out.putShort(typ.toShort)
      out.putInt(count)
      v match {
        case Left(off) => out.putInt(off.toInt)
        case Right(vals) =>
          val here = out.position()
          vals.foreach(x => if (typ == 3) out.putShort(x.toShort) else out.putInt(x.toInt))
          while (out.position() < here + 4) out.put(0.toByte)
      }
    }
    out.putInt(0) // no next IFD
    out.array()
  }
}
