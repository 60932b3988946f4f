package graft.serde

import java.util.zip.{CRC32, Inflater}

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
  def withInflater[T](nowrap: Boolean)(f: Inflater => T): T = {
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

  /** Multi-member gunzip with a bomb guard: None on any stream error or
    * when the inflated size crosses `max`. Byte-identical to draining a
    * `GZIPInputStream` over the same array (ZlibSpec holds the
    * equivalence), minus the per-call Inflater allocation. */
  def gunzipAll(b: Array[Byte], max: Int = 1 << 26): Option[Array[Byte]] = {
    try {
      val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 16))
      val buf = new Array[Byte](8192)
      val n = b.length
      var pos = 0
      var first = true
      var done = false
      withInflater(nowrap = true) { inf =>
        while (!done) {
          val h = gzipHeaderEnd(b, pos)
          if (h < 0) {
            // GZIPInputStream: a malformed FIRST header is an error; a
            // malformed header after a verified trailer is trailing
            // garbage and ends the stream silently
            if (first) return None
            done = true
          } else {
            first = false
            pos = h
            inf.reset()
            inf.setInput(b, pos, n - pos)
            val crc = new CRC32
            var memberDone = false
            while (!memberDone) {
              val k = inf.inflate(buf)
              if (k > 0) {
                crc.update(buf, 0, k)
                out.write(buf, 0, k)
                if (out.size > max) return None
              } else if (inf.finished()) memberDone = true
              else return None // truncated / needs-input mid-member
            }
            val tpos = pos + inf.getBytesRead.toInt
            if (tpos + 8 > n) return None // truncated trailer
            if (u32le(b, tpos) != crc.getValue ||
              u32le(b, tpos + 4) != (inf.getBytesWritten & 0xFFFFFFFFL))
              return None // corrupt trailer
            pos = tpos + 8
            if (pos >= n) done = true
          }
        }
      }
      Some(out.toByteArray)
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
