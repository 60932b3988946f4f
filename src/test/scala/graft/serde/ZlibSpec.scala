package graft.serde

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, GZIPInputStream, GZIPOutputStream}

import org.scalatest.funsuite.AnyFunSuite

/** The pooled zlib helper must be OBSERVABLY identical to the JDK paths
  * it replaced (r15 optimization): [[Zlib.gunzipAll]] vs draining a
  * GZIPInputStream, on every regime the WARC/archive/wiki decode layers
  * exercise — single member, concatenated members, all RFC 1952 header
  * flags, trailing garbage, every corruption class, and the bomb guard.
  * The reference implementation runs LIVE in this suite (not golden
  * bytes), so any JDK-semantics drift fails loudly. */
class ZlibSpec extends AnyFunSuite {

  /** The pre-optimization implementation, verbatim. */
  private def jdkGunzipAll(b: Array[Byte], max: Int = 1 << 26): Option[Array[Byte]] = {
    try {
      val in = new GZIPInputStream(new java.io.ByteArrayInputStream(b))
      val out = new ByteArrayOutputStream(math.min(b.length * 4, 1 << 16))
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size > max) return None
        n = in.read(buf)
      }
      Some(out.toByteArray)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def gzip(payload: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(payload); gz.close()
    bos.toByteArray
  }

  /** Hand-built member with chosen FLG features (the JDK writer never
    * emits FEXTRA/FNAME/FCOMMENT/FHCRC, so these are assembled from the
    * RFC): header + raw-deflate body + CRC32/ISIZE trailer. */
  private def memberWithFlags(payload: Array[Byte], fextra: Boolean,
      fname: Boolean, fcomment: Boolean, fhcrc: Boolean): Array[Byte] = {
    val h = new ByteArrayOutputStream()
    var flg = 0
    if (fhcrc) flg |= 2
    if (fextra) flg |= 4
    if (fname) flg |= 8
    if (fcomment) flg |= 16
    h.write(Array[Byte](0x1F.toByte, 0x8B.toByte, 8, flg.toByte, 0, 0, 0, 0, 0, 0xFF.toByte))
    if (fextra) { h.write(Array[Byte](3, 0)); h.write(Array[Byte](1, 2, 3)) }
    if (fname) { h.write("name.txt".getBytes("ISO-8859-1")); h.write(0) }
    if (fcomment) { h.write("a comment".getBytes("ISO-8859-1")); h.write(0) }
    if (fhcrc) {
      val crc = new CRC32
      crc.update(h.toByteArray)
      val v = (crc.getValue & 0xFFFF).toInt
      h.write(v & 0xFF); h.write((v >> 8) & 0xFF)
    }
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(payload); d.finish()
    val buf = new Array[Byte](8192)
    while (!d.finished()) { val k = d.deflate(buf); h.write(buf, 0, k) }
    d.end()
    val crc = new CRC32
    crc.update(payload)
    val cv = crc.getValue
    val iv = payload.length.toLong & 0xFFFFFFFFL
    Seq(cv, iv).foreach { v =>
      h.write((v & 0xFF).toInt); h.write(((v >> 8) & 0xFF).toInt)
      h.write(((v >> 16) & 0xFF).toInt); h.write(((v >> 24) & 0xFF).toInt)
    }
    h.toByteArray
  }

  private def check(b: Array[Byte], max: Int = 1 << 26): Unit = {
    val got = Zlib.gunzipAll(b, max)
    val ref = jdkGunzipAll(b, max)
    assert(got.isDefined == ref.isDefined, s"presence drift on ${b.length} bytes")
    (got, ref) match {
      case (Some(g), Some(r)) => assert(java.util.Arrays.equals(g, r), "payload drift")
      case _ =>
    }
  }

  private val payloads = Seq(
    Array.emptyByteArray,
    "hello gzip".getBytes("UTF-8"),
    Array.fill(100000)('x'.toByte),
    (0 until 50000).map(i => (i * 31 & 0xFF).toByte).toArray)

  test("single member: payload sweep matches GZIPInputStream") {
    payloads.foreach(p => check(gzip(p)))
  }

  test("concatenated members (incl. empty members) match") {
    check(gzip(payloads(1)) ++ gzip(payloads(3)))
    check(gzip(Array.emptyByteArray) ++ gzip(payloads(1)) ++ gzip(payloads(2)))
  }

  test("all RFC 1952 header-flag combinations match") {
    for (fe <- Seq(false, true); fn <- Seq(false, true);
         fc <- Seq(false, true); fh <- Seq(false, true)) {
      val m = memberWithFlags(payloads(1), fe, fn, fc, fh)
      check(m)
      check(gzip(payloads(2)) ++ m) // as a later member too
    }
  }

  test("trailing garbage after a valid member is ignored, like the JDK") {
    for (garbage <- Seq(Array[Byte](1), Array[Byte](0x1F.toByte), // short junk
        Array.fill(40)(0x55.toByte), // long junk
        Array[Byte](0x1F.toByte, 0x8B.toByte, 9, 0, 0, 0, 0, 0, 0, 0))) { // bad CM
      check(gzip(payloads(1)) ++ garbage)
    }
  }

  test("corruption classes: first-member header, body, CRC, ISIZE, truncations") {
    val m = gzip(payloads(1))
    check(Array.emptyByteArray)
    check(Array[Byte](0x1F.toByte))
    check("not gzip at all".getBytes("UTF-8"))
    check(m.take(5)) // truncated header
    check(m.take(m.length - 9)) // truncated body
    check(m.take(m.length - 3)) // truncated trailer
    val badCrc = m.clone; badCrc(m.length - 6) = (badCrc(m.length - 6) ^ 0x7F).toByte
    check(badCrc)
    val badIsize = m.clone; badIsize(m.length - 1) = (badIsize(m.length - 1) ^ 0x7F).toByte
    check(badIsize)
    val badBody = m.clone; badBody(12) = (badBody(12) ^ 0x55).toByte
    check(badBody)
    // corrupt SECOND member: error (not trailing garbage — header parses)
    check(gzip(payloads(1)) ++ badCrc)
    // bad FHCRC header checksum
    val fh = memberWithFlags(payloads(1), fextra = false, fname = false,
      fcomment = false, fhcrc = true)
    val badFh = fh.clone; badFh(10) = (badFh(10) ^ 0x7F).toByte
    check(badFh)
  }

  test("gzipMembers checks each member's trailer: a corrupt member ends the walk, the prefix stays") {
    val (first, second) = (gzip(payloads(1)), gzip(payloads(2)))
    val arc = first ++ second
    def frames(b: Array[Byte]) = Zlib.gzipMembers(b).map { case (o, l, m) => (o, l, m.toSeq) }
    assert(frames(arc) == Seq((0L, first.length.toLong, payloads(1).toSeq),
      (first.length.toLong, second.length.toLong, payloads(2).toSeq)))
    // the second member's CRC32 flipped: the payload path rejects the
    // archive, so the member walk must not index that member either
    val badCrc = arc.clone; badCrc(arc.length - 8) = (badCrc(arc.length - 8) ^ 0x01).toByte
    assert(Zlib.gunzipAll(badCrc).isEmpty)
    assert(frames(badCrc) == Seq((0L, first.length.toLong, payloads(1).toSeq)))
    val badIsize = arc.clone; badIsize(arc.length - 1) = (badIsize(arc.length - 1) ^ 0x01).toByte
    assert(frames(badIsize).length == 1)
  }

  test("bomb guard: None past max, Some at max") {
    val big = gzip(Array.fill(100000)(7.toByte))
    check(big, max = 99999)
    check(big, max = 100000)
    assert(Zlib.gunzipAll(big, 99999).isEmpty)
    assert(Zlib.gunzipAll(big, 100000).isDefined)
  }

  test("pool reuse across sequential and nested use keeps streams independent") {
    val a = gzip(payloads(2))
    // sequential: many decodes on one thread reuse the pooled instance
    (1 to 50).foreach(_ => assert(Zlib.gunzipAll(a).get.length == 100000))
    // nested: an inner decode between an outer inflater's uses must not
    // disturb the outer stream (the free-list hands out distinct instances)
    val zlibBytes = {
      val d = new Deflater()
      d.setInput(payloads(3)); d.finish()
      val bos = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) { val k = d.deflate(buf); bos.write(buf, 0, k) }
      d.end(); bos.toByteArray
    }
    val out = Zlib.withInflater(nowrap = false) { outer =>
      outer.setInput(zlibBytes)
      val dst = new Array[Byte](payloads(3).length)
      var off = 0
      while (off < dst.length / 2) off += outer.inflate(dst, off, dst.length / 2 - off)
      assert(Zlib.gunzipAll(a).get.length == 100000) // nested decode mid-stream
      while (off < dst.length) off += outer.inflate(dst, off, dst.length - off)
      dst
    }
    assert(java.util.Arrays.equals(out, payloads(3)))
  }
}
