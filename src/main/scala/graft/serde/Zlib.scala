package graft.serde

import java.util.zip.{CRC32, Inflater}

import scala.util.control.NonFatal

/** Pooled zlib/gzip DECODE primitives (r15 optimization, guide §1.2
  * per-task work).
  *
  * Every decode site used to build a fresh `java.util.zip.Inflater` (or a
  * `GZIPInputStream`, which allocates one internally) PER RECORD. Inflater
  * construction is a native zlib `inflateInit2` — executor thread samples
  * during q_warc_http_enc put ~1/3 of the query's busy CPU in
  * `Inflater.init` alone (48 of ~150 non-idle samples), and the native
  * window malloc/free churn is one of the residual mmap/kernel-time
  * sources the r15 heap fix did not cover. A per-thread free-list reuses
  * inflaters across records via `reset()` (which keeps the native
  * buffers); a free-LIST rather than a single slot so NESTED decodes
  * (a zip entry inflated while a gzip member walk is mid-stream) each get
  * their own instance. Same posture as the round's zstd
  * RecyclingBufferPool change.
  *
  * Every inflate loop of the engine lives here: [[inflate]] (a stream to
  * its end, capped), [[inflateExact]] (a known decoded size), [[gunzipAll]]
  * and [[gzipMembers]].
  *
  * [[gunzipAll]] replicates `GZIPInputStream` observable semantics
  * exactly — multi-member concatenation, RFC 1952 header flags
  * (FEXTRA/FNAME/FCOMMENT/FHCRC with the header-CRC16 check), per-member
  * CRC32 + ISIZE trailer verification, malformed-next-header = trailing
  * garbage silently ignored, malformed FIRST header = error — because
  * callers' oracles pin decoded bytes and corrupt-input postures
  * (None-on-error, bomb guard). ZlibSpec cross-checks it against a live
  * `GZIPInputStream` on every regime. */
object Zlib {

  private val pools = new ThreadLocal[
      (java.util.ArrayDeque[Inflater], java.util.ArrayDeque[Inflater])] {
    override def initialValue() =
      (new java.util.ArrayDeque[Inflater](), new java.util.ArrayDeque[Inflater]())
  }

  /** Run `f` with a pooled Inflater in the given wrapping mode. The
    * instance is reset before and after use; nested calls (same thread,
    * same mode) get distinct instances from the free-list.
    *
    * Bound: an instance is created only when the free-list is empty and
    * returns to it only in the `finally` after `f`, so a thread's list
    * never holds more inflaters than that thread's deepest nesting of
    * decodes in that mode. The pool needs no cap. */
  private[serde] def withInflater[T](nowrap: Boolean)(f: Inflater => T): T = {
    val p = if (nowrap) pools.get()._1 else pools.get()._2
    val inf = {
      val pooled = p.pollFirst()
      if (pooled != null) pooled else new Inflater(nowrap)
    }
    inf.reset()
    try f(inf)
    finally { inf.reset(); p.addFirst(inf) }
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def u16le(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def u32le(b: Array[Byte], i: Int): Long =
    (u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16)).toLong |
      (u8(b, i + 3).toLong << 24)

  /** RFC 1952 header parse at `pos`: offset past the header, or -1 on any
    * malformation (bad magic, CM != 8, bounds overrun, unterminated
    * FNAME/FCOMMENT, failed FHCRC check) — the same rejections
    * GZIPInputStream's readHeader throws on. */
  private[graft] def gzipHeaderEnd(b: Array[Byte], pos: Int): Int = {
    val n = b.length
    if (pos + 10 > n || u8(b, pos) != 0x1F || u8(b, pos + 1) != 0x8B ||
      u8(b, pos + 2) != 8) return -1
    val flg = u8(b, pos + 3)
    var q = pos + 10
    if ((flg & 4) != 0) { // FEXTRA
      if (q + 2 > n) return -1
      q += 2 + u16le(b, q)
      if (q > n) return -1
    }
    if ((flg & 8) != 0) { // FNAME
      while (q < n && b(q) != 0) q += 1
      if (q >= n) return -1
      q += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT
      while (q < n && b(q) != 0) q += 1
      if (q >= n) return -1
      q += 1
    }
    if ((flg & 2) != 0) { // FHCRC: CRC32-low-16 of the header bytes so far
      if (q + 2 > n) return -1
      val crc = new CRC32
      crc.update(b, pos, q - pos)
      if ((crc.getValue & 0xFFFF).toInt != u16le(b, q)) return -1
      q += 2
    }
    q
  }

  /** Inflate what `inf` has been given into `out` until its stream ends
    * (CRC32 of the output into `crc` unless null). False when the stream
    * stops short — truncated input, or a preset dictionary (FDICT) it was
    * never given: `inflate` then returns 0 forever — or `out` passes `max`. */
  private def drain(inf: Inflater, out: java.io.ByteArrayOutputStream, max: Int,
      crc: CRC32): Boolean = {
    val buf = new Array[Byte](8192)
    while (!inf.finished()) {
      val k = inf.inflate(buf)
      if (k == 0 && !inf.finished()) return false
      if (crc != null) crc.update(buf, 0, k)
      out.write(buf, 0, k)
      if (out.size > max) return false
    }
    true
  }

  /** One zlib (`nowrap` false) or raw-deflate stream in `b[off, off+len)`,
    * inflated to its end: None on any stream error or when the output
    * passes `max` bytes. Bytes after the stream's end are ignored. */
  def inflate(b: Array[Byte], off: Int, len: Int, nowrap: Boolean,
      max: Int): Option[Array[Byte]] =
    try withInflater(nowrap) { inf =>
      inf.setInput(b, off, len)
      val out = new java.io.ByteArrayOutputStream(math.min(len * 4L, 1L << 16).toInt)
      if (drain(inf, out, max, null)) Some(out.toByteArray) else None
    } catch { case NonFatal(_) => None }

  /** Exactly the first `n` inflated bytes of the stream in `b[off, off+len)`:
    * None on a stream error or when it ends or stalls short of `n`. */
  def inflateExact(b: Array[Byte], off: Int, len: Int, nowrap: Boolean,
      n: Int): Option[Array[Byte]] =
    try withInflater(nowrap) { inf =>
      inf.setInput(b, off, len)
      val out = new Array[Byte](n)
      var got = 0
      var stalled = false
      while (got < n && !inf.finished() && !stalled) {
        val k = inf.inflate(out, got, n - got)
        stalled = k == 0 && !inf.finished()
        got += k
      }
      if (got == n) Some(out) else None
    } catch { case NonFatal(_) => None }

  /** The gzip member at `pos`, its body appended to `out`: the offset past
    * its trailer; -1 when no member header parses at `pos`; -2 when the
    * member is corrupt or truncated, its CRC32 or ISIZE trailer disagrees,
    * or `out` passes `max`. */
  private def member(b: Array[Byte], pos: Int, out: java.io.ByteArrayOutputStream,
      max: Int): Int = {
    val h = gzipHeaderEnd(b, pos)
    if (h < 0) return -1
    withInflater(nowrap = true) { inf =>
      inf.setInput(b, h, b.length - h)
      val crc = new CRC32
      if (!drain(inf, out, max, crc)) -2
      else {
        val t = h + inf.getBytesRead.toInt
        if (t + 8 > b.length || u32le(b, t) != crc.getValue ||
          u32le(b, t + 4) != (inf.getBytesWritten & 0xFFFFFFFFL)) -2
        else t + 8
      }
    }
  }

  /** Multi-member gunzip with a bomb guard: None on any stream error or
    * when the inflated size crosses `max`. Byte-identical to draining a
    * `GZIPInputStream` over the same array (ZlibSpec holds the
    * equivalence), minus the per-call Inflater allocation. */
  def gunzipAll(b: Array[Byte], max: Int = 1 << 26): Option[Array[Byte]] =
    try {
      val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4L, 1L << 16).toInt)
      // GZIPInputStream: a malformed FIRST header is an error; a malformed
      // header after a verified trailer is trailing garbage and ends the
      // stream silently
      var pos = member(b, 0, out, max)
      while (pos >= 0 && pos < b.length) {
        val next = member(b, pos, out, max)
        pos = if (next == -1) b.length else next
      }
      if (pos < 0) None else Some(out.toByteArray)
    } catch { case NonFatal(_) => None }

  /** The members of a member-concatenated gzip file (the Common Crawl WARC
    * layout, one member per record): (offset, length, inflated body) each.
    * ONE inflation serves both the byte frame a CDX index records and the
    * record parse. The walk ends at the first member that does not parse
    * or verify — the same per-member checks as [[gunzipAll]], each body
    * capped at 64 MiB — keeping the members before it. */
  def gzipMembers(b: Array[Byte]): Seq[(Long, Long, Array[Byte])] = {
    val res = Seq.newBuilder[(Long, Long, Array[Byte])]
    var pos = 0
    try {
      while (pos < b.length) {
        val body = new java.io.ByteArrayOutputStream(8192)
        val end = member(b, pos, body, 1 << 26)
        if (end < 0) return res.result()
        res += ((pos.toLong, (end - pos).toLong, body.toByteArray))
        pos = end
      }
    } catch { case NonFatal(_) => () }
    res.result()
  }
}
