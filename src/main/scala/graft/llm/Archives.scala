package graft.llm

import org.apache.spark.sql.Dataset

import graft.llm.Multimodal.Media

/** Archive ingestion (round 13): TAR (the WebDataset shard format),
  * WebDataset sample grouping, and ZIP. Training corpora ship as
  * archive shards — WebDataset tars of (image, caption, metadata)
  * triples, zipped code/dataset dumps — so "read the dataset" is an
  * archive walk long before it is a decode. All three are flatMap
  * kernels: one shard blob in, N entries/samples out, nothing shuffles
  * (WebDataset's own contract is that a sample's parts are CONSECUTIVE
  * entries in the tar, which is what makes sample grouping a zero-
  * shuffle walk instead of a groupBy).
  *
  * Structural in the decision-record sense throughout: ustar's
  * 512-byte headers with octal ASCII sizes and a verifiable additive
  * checksum; ZIP's central directory of fixed-layout records pointing
  * at local entries; DEFLATE bodies through the JDK's Inflater (the
  * same dependency PNG/TIFF decode already carries). A parsing mistake
  * degrades to a short prefix or a None, never a silently wrong value.
  *
  * Corrupt-input posture: prefix rule, never a throw; gzipped shards
  * ride [[graft.serde.Zlib.gunzipAll]]'s bomb guard.
  *
  * Reference scope: kafi reads single files only (the kafi/fs module);
  * the archive layer is part of the LLM-pipeline extension.
  */
object Archives {

  /** One tar entry. `type_flag` is the ustar typeflag as a string
    * ("0" file, "5" directory); `data_offset` is the payload's byte
    * offset inside the (decompressed) shard — the number a WebDataset-
    * style random-access index records; `content` is the UTF-8 payload
    * for regular files, null for non-files. */
  case class TarEntry(doc_id: Long, entry_idx: Int, name: String, type_flag: String,
      size: Long, data_offset: Long, content: String)

  /** One WebDataset sample: the consecutive tar entries sharing a key
    * (basename up to the FIRST dot — the WebDataset convention, so
    * "a.seg.jpg" groups under "a" with part "seg.jpg"). Parts map
    * extension → payload bytes. */
  case class WdsSample(doc_id: Long, key: String, n_parts: Int,
      parts: Map[String, Array[Byte]])

  private def parseOctal(b: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = off
    val end = off + len
    var seen = false
    while (i < end) {
      val c = b(i) & 0xFF
      if (c >= '0' && c <= '7') { v = (v << 3) | (c - '0'); seen = true; i += 1 }
      else if ((c == ' ' || c == 0) && !seen) i += 1 // leading pad
      else i = end // terminator
    }
    if (seen) v else -1L
  }

  private def cString(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val stop = off + len
    while (end < stop && b(end) != 0) end += 1
    new String(b, off, end - off, "UTF-8")
  }

  /** ustar walk → entries before the first structural violation.
    * Accepts plain or gzipped shards. The additive header checksum is
    * VERIFIED (chksum bytes counted as spaces — the one redundancy the
    * format carries, and it is a plain sum, not a table); pax headers
    * (typeflag x/g) and GNU longname entries (L/K) are skipped by size
    * like any other non-file payload, with offsets still advancing —
    * offset accounting is what an index consumer relies on. The
    * end-of-archive marker is two zero blocks (a bare EOF after a
    * complete entry also ends the walk, the prefix rule). */
  private[graft] def parseTar(raw: Array[Byte]): Seq[TarEntry] = {
    // a gzipped shard can be SMALLER than one tar block — inflate first,
    // gate on the decompressed length
    if (raw == null || raw.length < 2) return Nil
    try {
      val b =
        if ((raw(0) & 0xFF) == 0x1F && (raw(1) & 0xFF) == 0x8B)
          graft.serde.Zlib.gunzipAll(raw).getOrElse(return Nil)
        else raw
      if (b.length < 512) return Nil
      val out = Seq.newBuilder[TarEntry]
      var p = 0L
      var idx = 0
      val n = b.length.toLong
      var done = false
      while (!done && p + 512 <= n) {
        val h = p.toInt
        if (b(h) == 0) done = true // zero block: end marker
        else {
          val size = parseOctal(b, h + 124, 12)
          val stored = parseOctal(b, h + 148, 8)
          var sum = 0L
          var i = 0
          while (i < 512) {
            sum += (if (i >= 148 && i < 156) ' '.toInt else b(h + i) & 0xFF)
            i += 1
          }
          val dataStart = p + 512
          if (size < 0 || stored != sum || dataStart + size > n) done = true
          else {
            val tf = (b(h + 156) & 0xFF).toChar
            val prefix = cString(b, h + 345, 155)
            val base = cString(b, h, 100)
            val name = if (prefix.isEmpty) base else prefix + "/" + base
            val isFile = tf == '0' || tf == 0.toChar
            // only real members become rows; pax/longname payloads are
            // metadata for a fancier reader and skip silently
            if (isFile || tf == '5')
              out += TarEntry(-1L, idx, name, if (tf == 0.toChar) "0" else tf.toString,
                size, dataStart,
                if (isFile) new String(b, dataStart.toInt, size.toInt, "UTF-8") else null)
            if (isFile || tf == '5') idx += 1
            p = dataStart + ((size + 511L) / 512L) * 512L
          }
        }
      }
      out.result()
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** Shard blobs → tar entries, a pure flatMap kernel. */
  def tarEntries(ds: Dataset[Media]): Dataset[TarEntry] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap(m => parseTar(m.media).map(_.copy(doc_id = m.doc_id))))
  }

  /** WebDataset sample grouping: CONSECUTIVE regular-file entries with
    * the same key collapse into one sample. Zero shuffle — the grouping
    * happens inside the same walk, honoring the format's contract that
    * a sample's parts are adjacent. Needs the raw bytes, so it re-walks
    * the shard rather than riding [[TarEntry.content]]. */
  private[graft] def parseWds(raw: Array[Byte]): Seq[WdsSample] = {
    if (raw == null || raw.length < 2) return Nil
    try {
      val b =
        if ((raw(0) & 0xFF) == 0x1F && (raw(1) & 0xFF) == 0x8B)
          graft.serde.Zlib.gunzipAll(raw).getOrElse(return Nil)
        else raw
      if (b.length < 512) return Nil
      val out = Seq.newBuilder[WdsSample]
      var curKey: String = null
      var parts = Map.empty[String, Array[Byte]]
      def flush(): Unit = if (curKey != null) {
        out += WdsSample(-1L, curKey, parts.size, parts)
        curKey = null; parts = Map.empty
      }
      var p = 0L
      val n = b.length.toLong
      var done = false
      while (!done && p + 512 <= n) {
        val h = p.toInt
        if (b(h) == 0) done = true
        else {
          val size = parseOctal(b, h + 124, 12)
          val stored = parseOctal(b, h + 148, 8)
          var sum = 0L
          var i = 0
          while (i < 512) {
            sum += (if (i >= 148 && i < 156) ' '.toInt else b(h + i) & 0xFF)
            i += 1
          }
          val dataStart = p + 512
          if (size < 0 || stored != sum || dataStart + size > n) done = true
          else {
            val tf = (b(h + 156) & 0xFF).toChar
            if (tf == '0' || tf == 0.toChar) {
              val prefix = cString(b, h + 345, 155)
              val base = cString(b, h, 100)
              val name = if (prefix.isEmpty) base else prefix + "/" + base
              val slash = name.lastIndexOf('/')
              val fname = name.substring(slash + 1)
              val dot = fname.indexOf('.')
              val key = (if (slash >= 0) name.substring(0, slash + 1) else "") +
                (if (dot >= 0) fname.substring(0, dot) else fname)
              val ext = if (dot >= 0) fname.substring(dot + 1) else ""
              if (key != curKey) flush()
              curKey = key
              parts += (ext -> java.util.Arrays.copyOfRange(b, dataStart.toInt,
                (dataStart + size).toInt))
            }
            p = dataStart + ((size + 511L) / 512L) * 512L
          }
        }
      }
      flush()
      out.result()
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  def webdatasetSamples(ds: Dataset[Media]): Dataset[WdsSample] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap(m => parseWds(m.media).map(_.copy(doc_id = m.doc_id))))
  }

  // ------------------------------------------------------------------
  // ZIP (central-directory walk; DEFLATE through the JDK Inflater)
  // ------------------------------------------------------------------

  /** One zip entry, read via OUR central-directory walk (the fixture is
    * written by the JDK's own ZipOutputStream, so writer and reader are
    * independent implementations). `method` is 0 (stored) or 8
    * (deflate); `crc_ok` re-computes CRC-32 over the inflated payload
    * against the directory's claim. */
  case class ZipEntry(doc_id: Long, entry_idx: Int, name: String, method: Int,
      comp_len: Long, uncomp_len: Long, crc_ok: Boolean, content: String)

  /** Central-directory walk: find EOCD (scan back for PK\0005\0006 over
    * the ≤64 KiB comment window), walk the directory's fixed-layout
    * records, then read each entry through its LOCAL header (whose own
    * name/extra lengths position the payload — the directory's offsets
    * are authoritative, the local header's lengths are, which is the
    * classic zip subtlety). Stored and DEFLATE methods; anything else
    * → that entry reports content null, crc_ok false. */
  private[graft] def parseZip(b: Array[Byte]): Seq[ZipEntry] = {
    if (b == null || b.length < 22) return Nil
    try {
      val n = b.length
      // EOCD scan
      var e = n - 22
      val floor = math.max(0, n - 22 - 65535)
      while (e >= floor && !(b(e) == 'P' && b(e + 1) == 'K' && b(e + 2) == 5 && b(e + 3) == 6))
        e -= 1
      if (e < floor) return Nil
      def u16(p: Int): Int = (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
      def u32(p: Int): Long = (u16(p) | (u16(p + 2).toLong << 16)) & 0xFFFFFFFFL
      val count = u16(e + 10)
      val cdOff = u32(e + 16)
      if (cdOff > n) return Nil
      var p = cdOff.toInt
      val out = Seq.newBuilder[ZipEntry]
      var idx = 0
      while (idx < count) {
        if (p + 46 > n || !(b(p) == 'P' && b(p + 1) == 'K' && b(p + 2) == 1 && b(p + 3) == 2))
          return out.result()
        val method = u16(p + 10)
        val crc = u32(p + 16)
        val clen = u32(p + 20)
        val ulen = u32(p + 24)
        val nameLen = u16(p + 28)
        val extraLen = u16(p + 30)
        val commentLen = u16(p + 32)
        val lho = u32(p + 42).toInt
        val name = new String(b, p + 46, nameLen, "UTF-8")
        // local header: PK\3\4 … its OWN name/extra lengths frame the data
        var content: String = null
        var crcOk = false
        if (lho + 30 <= n && b(lho) == 'P' && b(lho + 1) == 'K' && b(lho + 2) == 3 && b(lho + 3) == 4) {
          val dataOff = lho + 30 + u16(lho + 26) + u16(lho + 28)
          if (dataOff + clen <= n) {
            val plain: Option[Array[Byte]] = method match {
              case 0 => Some(java.util.Arrays.copyOfRange(b, dataOff, (dataOff + clen).toInt))
              case 8 => graft.serde.Zlib.inflateExact(b, dataOff, clen.toInt, nowrap = true, ulen.toInt)
              case _ => None
            }
            plain.foreach { pb =>
              val c = new java.util.zip.CRC32()
              c.update(pb)
              crcOk = c.getValue == crc
              content = new String(pb, "UTF-8")
            }
          }
        }
        out += ZipEntry(-1L, idx, name, method, clen, ulen, crcOk, content)
        idx += 1
        p += 46 + nameLen + extraLen + commentLen
      }
      out.result()
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  def zipEntries(ds: Dataset[Media]): Dataset[ZipEntry] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap(m => parseZip(m.media).map(_.copy(doc_id = m.doc_id))))
  }

  // ------------------------------------------------------------------
  // Fixture builders
  // ------------------------------------------------------------------

  private def octal(v: Long, len: Int): Array[Byte] = {
    // len-1 zero-padded octal digits followed by a NUL terminator
    val s = java.lang.Long.toOctalString(v)
    val pad = "0" * (len - 1 - s.length) + s
    val out = new Array[Byte](len)
    System.arraycopy(pad.getBytes("ISO-8859-1"), 0, out, 0, len - 1)
    out
  }

  private[graft] def tarHeader(name: String, size: Long, typeflag: Char): Array[Byte] = {
    val h = new Array[Byte](512)
    val nb = name.getBytes("UTF-8")
    System.arraycopy(nb, 0, h, 0, math.min(nb.length, 100))
    System.arraycopy(octal(420, 8), 0, h, 100, 8) // mode 0644
    System.arraycopy(octal(0, 8), 0, h, 108, 8)
    System.arraycopy(octal(0, 8), 0, h, 116, 8)
    System.arraycopy(octal(size, 12), 0, h, 124, 12)
    System.arraycopy(octal(0, 12), 0, h, 136, 12)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum as spaces first
    h(156) = typeflag.toByte
    System.arraycopy("ustar".getBytes("ISO-8859-1"), 0, h, 257, 5) // magic, NUL-terminated
    h(263) = '0'; h(264) = '0' // version "00"
    var sum = 0L
    var i = 0
    while (i < 512) { sum += h(i) & 0xFF; i += 1 }
    val cs = java.lang.Long.toOctalString(sum)
    val csPad = "0" * (6 - cs.length) + cs
    System.arraycopy(csPad.getBytes("ISO-8859-1"), 0, h, 148, 6)
    h(154) = 0; h(155) = ' '.toByte // chksum: 6 octal digits, NUL, space
    h
  }

  /** A well-formed ustar archive from (name, typeflag, payload)
    * members; payload blocks are zero-padded to 512 and the archive
    * ends with the two-zero-block marker, so byte accounting is the
    * closed form Σ(512 + 512·ceil(size/512)) + 1024. */
  def syntheticTar(members: Seq[(String, Char, Array[Byte])],
      gzipped: Boolean): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, tf, data) =>
      o.write(tarHeader(name, if (tf == '5') 0L else data.length.toLong, tf))
      if (tf != '5') {
        o.write(data)
        val pad = (512 - data.length % 512) % 512
        o.write(new Array[Byte](pad))
      }
    }
    o.write(new Array[Byte](1024))
    val plain = o.toByteArray
    if (!gzipped) plain
    else {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(plain); gz.close()
      bos.toByteArray
    }
  }

  /** A zip written by the JDK's OWN ZipOutputStream — reader and writer
    * are independent implementations, the MediaInteropSpec posture.
    * `stored` entries set method 0 (size+crc pre-declared, as the JDK
    * requires). */
  def syntheticZip(entries: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zo = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, data, storedFlag) =>
      val ze = new java.util.zip.ZipEntry(name)
      if (storedFlag) {
        ze.setMethod(java.util.zip.ZipOutputStream.STORED)
        ze.setSize(data.length.toLong)
        ze.setCompressedSize(data.length.toLong)
        val c = new java.util.zip.CRC32(); c.update(data)
        ze.setCrc(c.getValue)
      }
      zo.putNextEntry(ze)
      zo.write(data)
      zo.closeEntry()
    }
    zo.close()
    bos.toByteArray
  }

  // ------------------------------------------------------------------
  // Compressed JSONL shards (round 13): the dominant interchange format
  // for published text corpora — The Pile / RedPajama / Dolma ship as
  // .jsonl.zst, OSCAR and friends as .jsonl.gz. The kernel only
  // decompresses (by magic, not extension: shards get renamed) and
  // splits lines; FIELD extraction stays declarative on purpose —
  // get_json_object/from_json over the line column keeps the JSON walk
  // inside Catalyst codegen instead of a hand parser. All five codecs
  // the runtime carries are covered (plain, gzip, zstd, xz, bzip2 —
  // zstd-jni, org.tukaani:xz, and commons-compress all ship in Spark's
  // own jars), every one behind the same decompression-bomb guard.
  // ------------------------------------------------------------------

  /** One JSONL line. `line_idx` numbers the EMITTED lines — blank
    * lines are skipped without a slot, because a shard is a record
    * stream, not a text file with meaningful blank rows. */
  case class JsonlLine(doc_id: Long, line_idx: Int, line: String)

  /** Multi-frame zstd with the [[graft.serde.Zlib.gunzipAll]] bomb guard. The
    * recycling buffer pool reuses the stream's working buffers across
    * records on the same thread (r15 optimization): the default NoPool
    * allocates and frees a fresh native-sized buffer per record, and at
    * one stream per row that malloc/free churn was measurable kernel
    * time in the shard-decode tasks. Bytes decoded are identical. */
  private[graft] def zstdAll(b: Array[Byte], max: Int = 1 << 26): Option[Array[Byte]] = {
    try {
      val in = new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(b),
        com.github.luben.zstd.RecyclingBufferPool.INSTANCE)
      val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 16))
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

  /** Multi-stream xz, same guard. BasicArrayCache recycles the LZMA2
    * dictionary/window arrays across streams (r15 optimization — the
    * default ArrayCache.getDummyCache allocates them fresh per record;
    * the pure-Java XZ path was the remaining allocation-heavy shard
    * codec after zstd got its buffer pool). Bytes decoded identical. */
  private[graft] def xzAll(b: Array[Byte], max: Int = 1 << 26): Option[Array[Byte]] = {
    try {
      val in = new org.tukaani.xz.XZInputStream(new java.io.ByteArrayInputStream(b),
        org.tukaani.xz.BasicArrayCache.getInstance())
      val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 16))
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

  /** Codec dispatch by magic bytes; plain passthrough otherwise. */
  private[graft] def decompressAny(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null) None
    else if (b.length < 6) Some(b)
    else if ((b(0) & 0xFF) == 0x1F && (b(1) & 0xFF) == 0x8B) graft.serde.Zlib.gunzipAll(b)
    else if ((b(0) & 0xFF) == 0x28 && (b(1) & 0xFF) == 0xB5 &&
      (b(2) & 0xFF) == 0x2F && (b(3) & 0xFF) == 0xFD) zstdAll(b)
    else if ((b(0) & 0xFF) == 0xFD && b(1) == '7' && b(2) == 'z' &&
      b(3) == 'X' && b(4) == 'Z' && b(5) == 0) xzAll(b)
    else if (b(0) == 'B' && b(1) == 'Z' && b(2) == 'h') Wiki.bunzipAll(b)
    else Some(b)
  }

  /** Shard blobs → non-empty lines, a pure flatMap kernel. A shard
    * that fails to decompress yields nothing (corrupt-input posture —
    * at 100 TB a truncated shard is normal input, and the bomb guard
    * makes a hostile one cost at most 64 MiB of output). */
  def jsonlLines(ds: Dataset[Media]): Dataset[JsonlLine] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap { m =>
      decompressAny(m.media).toSeq.flatMap { b =>
        new String(b, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n", -1).iterator.map(_.stripSuffix("\r")).filter(_.nonEmpty)
          .zipWithIndex.map { case (l, i) => JsonlLine(m.doc_id, i, l) }
      }
    })
  }

  /** A JSONL shard: `compress` 0 plain, 1 gzip, 2 zstd (TWO frames —
    * the seekable-shard layout), 3 xz, 4 bzip2. */
  def syntheticJsonl(lines: Seq[String], compress: Int): Array[Byte] = {
    val half = lines.length / 2
    def join(ls: Seq[String]) = ls.map(_ + "\n").mkString.getBytes("UTF-8")
    compress match {
      case 1 =>
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(join(lines)); gz.close()
        bos.toByteArray
      case 2 =>
        com.github.luben.zstd.Zstd.compress(join(lines.take(half)), 3) ++
          com.github.luben.zstd.Zstd.compress(join(lines.drop(half)), 3)
      case 3 =>
        val bos = new java.io.ByteArrayOutputStream()
        // preset 0: the fixture's ENCODE cost is not under test — the
        // engine side is the decode, which is preset-independent
        val xz = new org.tukaani.xz.XZOutputStream(bos, new org.tukaani.xz.LZMA2Options(0))
        xz.write(join(lines)); xz.close()
        bos.toByteArray
      case 4 =>
        val bos = new java.io.ByteArrayOutputStream()
        val z = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(bos, 1)
          // blockSize 1 (100 kB work arrays, not default 9's ~8 MB): fixture
          // payloads are <4 kB, so the bytes out are identical while the
          // per-call allocation storm that polluted the r13 driver-bench CPU
          // reading (VERDICT r13 task 1) disappears
        z.write(join(lines)); z.close()
        bos.toByteArray
      case _ => join(lines)
    }
  }
}
