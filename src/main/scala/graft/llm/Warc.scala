package graft.llm


import org.apache.spark.sql.Dataset

import graft.llm.Multimodal.Media
import graft.serde.Zlib

/** WARC ingestion (round 13): the entry point of a web-scale training
  * corpus. Common Crawl ships ~100 TB per crawl as WARC files (ISO
  * 28500) — so "read the scrape" IS a WARC record walk, and it has to
  * be a pure flatMap kernel over the bytes already in the scan: one
  * archive blob in, N records out, nothing shuffles until the caller
  * keys on something.
  *
  * The format is STRUCTURAL in exactly the sense of the COVERAGE.md
  * round-13 decision record: a version line, RFC-822-style named
  * headers (case-insensitive), a Content-Length that frames the body,
  * and a two-CRLF trailer — no normative lookup data anywhere. HTTP
  * response records nest a second structural layer (status line +
  * headers + body) that the walk splits the same way. Compression is
  * the Common Crawl layout: each record its own gzip member, members
  * concatenated — `GZIPInputStream` consumes multi-member streams, and
  * record boundaries re-emerge from the WARC framing itself, so random
  * access is the only thing lost by whole-stream decompression (a 100
  * TB job reads every record anyway; the per-member offsets in the
  * companion CDX index are what a seeking reader would use).
  *
  * Corrupt-input posture: the walk keeps every complete record parsed
  * before the first structural violation (the Ogg prefix rule) and
  * never throws; a gzip stream that explodes past `maxInflate` stops
  * the same way (decompression-bomb guard — at scale a hostile archive
  * is NORMAL input).
  *
  * Reference scope: kafi has no archive reader; its closest surface is
  * the file-source walk (kafi/fs/fs_reader.py) which treats files as
  * opaque byte streams. This operator is part of the LLM-pipeline
  * extension the assignment calls for.
  */
object Warc {

  /** One WARC record. `warc_type`/`target_uri`/`content_type` are the
    * WARC headers; `content_length` the WARC body size (for a response
    * record that is the FULL nested HTTP message); `http_status` and
    * `payload_len`/`payload` the nested HTTP split (status 0 and the
    * whole body for non-HTTP records). `charset` is the encoding the
    * payload was DECODED WITH (lowercase canonical name), resolved by
    * the BOM → HTTP header → meta sniff → UTF-8 validity → cp1252
    * chain in [[decodePayload]]. */
  case class WarcRecord(doc_id: Long, rec_idx: Int, warc_type: String,
      target_uri: String, content_type: String, content_length: Long,
      http_status: Int, payload_len: Long, payload: String, charset: String)

  private val CRLF = "\r\n".getBytes("ISO-8859-1")

  private def indexOfCrlf(b: Array[Byte], from: Int, end: Int): Int = {
    var i = from
    while (i + 1 < end) {
      if (b(i) == '\r' && b(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** Parse `[p, end)` as RFC-822-style headers up to and including the
    * blank line; returns (lower-cased name → value, bodyStart) or None
    * on a malformed line. */
  private def parseHeaders(b: Array[Byte], p0: Int, end: Int): Option[(Map[String, String], Int)] = {
    var p = p0
    val m = Map.newBuilder[String, String]
    while (true) {
      val eol = indexOfCrlf(b, p, end)
      if (eol < 0) return None
      if (eol == p) return Some((m.result(), p + 2)) // blank line
      val line = new String(b, p, eol - p, "UTF-8")
      val colon = line.indexOf(':')
      if (colon <= 0) return None
      m += (line.substring(0, colon).trim.toLowerCase -> line.substring(colon + 1).trim)
      p = eol + 2
    }
    None // unreachable
  }

  // ------------------------------------------------------------------
  // Payload charset (round 15): a real crawl is NOT UTF-8 — a large
  // fraction of legacy pages is windows-1252 / Shift_JIS / GB*, and
  // decoding those as hard UTF-8 mojibakes the corpus text into
  // U+FFFD. The encoding is carried in the bytes already parsed: the
  // HTTP Content-Type charset parameter, the <meta charset> tag, or a
  // BOM. Resolution order is the WHATWG one (BOM strongest, then
  // transport, then in-document), the label table is the JVM's
  // Charset.forName with the encoding standard's one deliberate
  // remap — pages LABELED iso-8859-1/us-ascii are decoded as
  // windows-1252, because that is what servers saying latin-1
  // actually serve (the C1 range is where they differ and cp1252 is
  // a superset in practice). Undeclared payloads decode UTF-8 when
  // strictly valid, else windows-1252 (total: the JVM's cp1252 maps
  // all 256 bytes). Every path is total — new String with a Charset
  // replaces malformed input, never throws.
  // ------------------------------------------------------------------

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")
  private val Latin1Labels = Set(
    "iso-8859-1", "iso8859-1", "iso_8859-1", "iso88591", "latin1",
    "latin-1", "l1", "us-ascii", "ascii", "ansi_x3.4-1968",
    "windows-1252", "cp1252", "x-cp1252", "cp819", "ibm819")

  /** Charset label → JVM charset, None on an unknown label. */
  private[graft] def charsetFor(label: String): Option[java.nio.charset.Charset] = {
    val n = label.trim.stripPrefix("\"").stripSuffix("\"").stripSuffix(";").trim.toLowerCase
    if (n.isEmpty) None
    else if (Latin1Labels(n)) Some(Cp1252)
    else
      try Some(java.nio.charset.Charset.forName(n))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  private def charsetParam(ctype: String): Option[String] = {
    val i = ctype.toLowerCase.indexOf("charset=")
    if (i < 0) None
    else {
      val rest = ctype.substring(i + 8)
      val v = rest.takeWhile(c => c != ';' && !c.isWhitespace)
      if (v.isEmpty) None else Some(v)
    }
  }

  // <meta charset=X> and <meta http-equiv content="...; charset=X">
  // both surface as charset= inside a meta tag; sniff window 1024
  // bytes per the WHATWG prescan
  private val ReMetaCharset = java.util.regex.Pattern.compile(
    "(?i)<meta[^>]{0,1000}?charset\\s*=\\s*[\"']?([A-Za-z0-9._:-]+)")

  private def isValidUtf8(b: Array[Byte], from: Int, to: Int): Boolean = {
    try {
      java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .decode(java.nio.ByteBuffer.wrap(b, from, to - from))
      true
    } catch { case _: java.nio.charset.CharacterCodingException => false }
  }

  /** Decode `[from, to)` per the resolution chain; returns (text,
    * lowercase canonical charset name). A BOM is consumed, not
    * emitted. */
  private[graft] def decodePayload(b: Array[Byte], from: Int, to: Int,
      httpCharset: Option[String]): (String, String) = {
    val len = to - from
    if (len >= 3 && (b(from) & 0xFF) == 0xEF && (b(from + 1) & 0xFF) == 0xBB &&
        (b(from + 2) & 0xFF) == 0xBF)
      return (new String(b, from + 3, len - 3,
        java.nio.charset.StandardCharsets.UTF_8), "utf-8")
    if (len >= 2 && (b(from) & 0xFF) == 0xFF && (b(from + 1) & 0xFF) == 0xFE)
      return (new String(b, from + 2, len - 2,
        java.nio.charset.StandardCharsets.UTF_16LE), "utf-16le")
    if (len >= 2 && (b(from) & 0xFF) == 0xFE && (b(from + 1) & 0xFF) == 0xFF)
      return (new String(b, from + 2, len - 2,
        java.nio.charset.StandardCharsets.UTF_16BE), "utf-16be")
    httpCharset.flatMap(charsetFor) match {
      case Some(cs) => (new String(b, from, len, cs), cs.name.toLowerCase)
      case None =>
        val head = new String(b, from, math.min(1024, len),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val m = ReMetaCharset.matcher(head)
        val metaCs = if (m.find()) charsetFor(m.group(1)) else None
        metaCs match {
          case Some(cs) => (new String(b, from, len, cs), cs.name.toLowerCase)
          case None =>
            if (isValidUtf8(b, from, to))
              (new String(b, from, len,
                java.nio.charset.StandardCharsets.UTF_8), "utf-8")
            else (new String(b, from, len, Cp1252), "windows-1252")
        }
    }
  }

  /** HTTP chunked transfer-encoding removal (round 15): size-line in
    * hex (chunk extensions after ';' ignored), CRLF-framed chunks, the
    * 0-chunk ends the body (trailers ignored). None on any framing
    * violation — the caller falls back to the raw bytes, total. Real
    * crawls preserve the wire form, so without this the chunk sizes
    * leak into the corpus text. */
  private[graft] def dechunk(b: Array[Byte], from: Int, to: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    var p = from
    while (p < to) {
      val eol = indexOfCrlf(b, p, to)
      if (eol < 0) return None
      val line = new String(b, p, eol - p, "ISO-8859-1")
      val semi = line.indexOf(';')
      val sizeStr = (if (semi >= 0) line.substring(0, semi) else line).trim
      if (sizeStr.isEmpty || !sizeStr.forall(c => Character.digit(c, 16) >= 0))
        return None
      // parse as Long and bound against the REMAINING bytes before any
      // int arithmetic — a hostile 7FFFFFFF size line must not wrap
      // `p + size` negative and sail past the guard into out.write
      val size = try java.lang.Long.parseLong(sizeStr, 16)
      catch { case _: NumberFormatException => return None }
      p = eol + 2
      if (size == 0) return Some(out.toByteArray)
      if (size > to - p) return None
      out.write(b, p, size.toInt)
      p += size.toInt
      if (p + 2 > to || b(p) != '\r' || b(p + 1) != '\n') return None
      p += 2
    }
    None // never saw the terminating 0-chunk
  }

  /** HTTP content-encoding removal: gzip (multi-member) and deflate
    * (zlib per the RFC, raw-deflate fallback for the servers that send
    * it bare — both exist in real crawls). None → caller keeps raw. */
  private def contentDecode(enc: String, b: Array[Byte]): Option[Array[Byte]] =
    enc match {
      case "gzip" | "x-gzip" => Zlib.gunzipAll(b)
      case "deflate" =>
        Zlib.inflate(b, 0, b.length, nowrap = false, 1 << 26)
          .orElse(Zlib.inflate(b, 0, b.length, nowrap = true, 1 << 26))
      case _ => None // identity/br/unknown: keep raw
    }

  /** The nested-HTTP split shared by [[parseWarc]] and [[cdxWalk]] —
    * ONE implementation of the wire layers so a framing or decoding
    * fix can never reach the payload path and miss the digest path:
    * status line + headers, then transfer-encoding (chunked) removal,
    * then content-encoding (gzip/deflate) removal, each layer falling
    * back to the previous form on failure (total). `entity == null`
    * means the raw `[payStart, bodyEnd)` span IS the entity — callers
    * keep slicing the original buffer, no copy. */
  private final case class NestedEntity(status: Int, mime: Option[String],
      charset: Option[String], payStart: Int, entity: Array[Byte])

  private def nestedEntity(b: Array[Byte], bodyStart: Int, bodyEnd: Int,
      ctype: String): NestedEntity = {
    var status = 0
    var payStart = bodyStart
    var mime: Option[String] = None
    var charset: Option[String] = None
    var chunked = false
    var contentEnc: Option[String] = None
    if (ctype.toLowerCase.startsWith("application/http")) {
      val seol = indexOfCrlf(b, bodyStart, bodyEnd)
      if (seol > 0) {
        val sline = new String(b, bodyStart, seol - bodyStart, "ISO-8859-1")
        val parts = sline.split(" ", 3)
        if (parts.length >= 2 && parts(0).startsWith("HTTP/"))
          status = parts(1).toIntOption.getOrElse(0)
        parseHeaders(b, seol + 2, bodyEnd) match {
          case Some((hh, hb)) =>
            payStart = hb
            mime = hh.get("content-type").map(_.takeWhile(_ != ';').trim.toLowerCase)
            charset = hh.get("content-type").flatMap(charsetParam)
            chunked = hh.get("transfer-encoding")
              .exists(_.toLowerCase.contains("chunked"))
            contentEnc = hh.get("content-encoding").map(_.trim.toLowerCase)
          case None => payStart = bodyEnd // headers never close: empty payload
        }
      }
    }
    var ent: Array[Byte] =
      if (chunked) dechunk(b, payStart, bodyEnd).orNull else null
    contentEnc.foreach { enc =>
      val in = if (ent != null) ent
        else java.util.Arrays.copyOfRange(b, payStart, bodyEnd)
      contentDecode(enc, in).foreach(ent = _)
    }
    NestedEntity(status, mime, charset, payStart, ent)
  }

  /** Record walk → complete records before the first structural
    * violation. Accepts plain or gzipped (multi-member) archives. */
  private[graft] def parseWarc(raw: Array[Byte]): Seq[WarcRecord] = {
    if (raw == null || raw.length < 4) return Nil
    try {
      val b =
        if ((raw(0) & 0xFF) == 0x1F && (raw(1) & 0xFF) == 0x8B)
          Zlib.gunzipAll(raw).getOrElse(return Nil)
        else raw
      val out = Seq.newBuilder[WarcRecord]
      var p = 0
      var idx = 0
      val n = b.length
      var broken = false
      while (!broken && p + 7 <= n) {
        // version line
        val eol = indexOfCrlf(b, p, n)
        if (eol < 0 || !new String(b, p, math.min(5, eol - p), "ISO-8859-1").equals("WARC/"))
          broken = true
        else parseHeaders(b, eol + 2, n) match {
          case None => broken = true
          case Some((hdrs, bodyStart)) =>
            val clen = hdrs.get("content-length").flatMap(s => s.toLongOption)
            clen match {
              case Some(cl) if cl >= 0 && bodyStart + cl + 4 <= n =>
                val bodyEnd = bodyStart + cl.toInt
                if (b(bodyEnd) != '\r' || b(bodyEnd + 1) != '\n' ||
                    b(bodyEnd + 2) != '\r' || b(bodyEnd + 3) != '\n') broken = true
                else {
                  val wtype = hdrs.getOrElse("warc-type", "")
                  val uri = hdrs.getOrElse("warc-target-uri", null)
                  val ctype = hdrs.getOrElse("content-type", "")
                  val ne = nestedEntity(b, bodyStart, bodyEnd, ctype)
                  val (payload, charset) =
                    if (ne.entity == null)
                      decodePayload(b, ne.payStart, bodyEnd, ne.charset)
                    else decodePayload(ne.entity, 0, ne.entity.length, ne.charset)
                  out += WarcRecord(-1L, idx, wtype, uri, ctype, cl, ne.status,
                    (bodyEnd - ne.payStart).toLong, payload, charset)
                  idx += 1
                  p = bodyEnd + 4
                }
              case _ => broken = true
            }
        }
      }
      out.result()
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** Archive blobs → records, a pure flatMap kernel (PlanSpec-asserted
    * no-Exchange). `doc_id` identifies the source archive. */
  def readWarc(ds: Dataset[Media]): Dataset[WarcRecord] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap { m =>
      parseWarc(m.media).map(r => r.copy(doc_id = m.doc_id))
    })
  }

  // ------------------------------------------------------------------
  // HTML text extraction (the step between "WARC payload" and every
  // text operator in this engine)
  // ------------------------------------------------------------------

  private val ReComment = java.util.regex.Pattern.compile("<!--.*?-->",
    java.util.regex.Pattern.DOTALL)
  private val ReScript = java.util.regex.Pattern.compile(
    "<(script|style)\\b[^>]*>.*?</\\1\\s*>",
    java.util.regex.Pattern.DOTALL | java.util.regex.Pattern.CASE_INSENSITIVE)
  private val ReTag = java.util.regex.Pattern.compile("<[^>]*>")
  private val ReEntity = java.util.regex.Pattern.compile("&(#x?[0-9a-fA-F]+|[a-zA-Z]+);")
  private val ReWs = java.util.regex.Pattern.compile("[\\s\\u00A0]+")

  private val namedEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ")

  /** Entity decode alone (named set + numeric dec/hex) — the shared
    * tail [[htmlText]] and the block walk in [[Boilerplate]] both
    * ride; unknown entities pass through verbatim. */
  private[graft] def decodeEntities(s: String): String = {
    val m = ReEntity.matcher(s)
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(s, last, m.start())
      val e = m.group(1)
      val rep =
        if (e.startsWith("#x") || e.startsWith("#X"))
          parseIntRadix(e.substring(2), 16).filter(Character.isValidCodePoint(_))
            .map(cp => new String(Character.toChars(cp))).getOrElse(m.group())
        else if (e.startsWith("#"))
          e.substring(1).toIntOption.filter(Character.isValidCodePoint(_))
            .map(cp => new String(Character.toChars(cp))).getOrElse(m.group())
        else namedEntities.getOrElse(e, m.group())
      sb.append(rep)
      last = m.end()
    }
    sb.append(s, last, s.length)
    sb.toString
  }

  /** Collapse all whitespace runs to single spaces and trim. */
  private[graft] def collapseWs(s: String): String =
    ReWs.matcher(s).replaceAll(" ").trim

  /** Tag-stripping text extraction: comments out, whole script/style
    * elements out (their CONTENT must not leak — a naive tag strip
    * leaves `var a="...";` in the corpus), remaining tags → space,
    * entities decoded (named set + numeric dec/hex), whitespace
    * collapsed. Deterministic and total: any string in, text out —
    * corrupt HTML degrades to extra stripped fragments, never a throw.
    * Heuristic boundary, documented: attribute values containing a
    * literal '>' end the tag early (the usual scraper trade; a
    * conforming document escapes it as &gt;). */
  private[graft] def htmlText(html: String): String = {
    if (html == null) return ""
    var s = ReComment.matcher(html).replaceAll(" ")
    s = ReScript.matcher(s).replaceAll(" ")
    s = ReTag.matcher(s).replaceAll(" ")
    collapseWs(decodeEntities(s))
  }

  private def parseIntRadix(s: String, radix: Int): Option[Int] =
    try Some(Integer.parseInt(s, radix)) catch { case _: NumberFormatException => None }

  /** Extracted text rows from an archive feed: HTTP-200 responses →
    * (doc_id, rec_idx, text). One Catalyst plan, no shuffle. */
  def htmlTextRecords(ds: Dataset[Media]): Dataset[(Long, Int, String)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    readWarc(ds)
      .filter(r => r.warc_type == "response" && r.http_status == 200)
      .map(r => (r.doc_id, r.rec_idx, htmlText(r.payload)))
  }

  /** WET feed (Common Crawl's pre-extracted text layer): `conversion`
    * records whose body IS the plain text — no nested HTTP layer, no
    * tag work. Same record walk, same flatMap shape. */
  def wetTexts(ds: Dataset[Media]): Dataset[(Long, Int, String, String)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    readWarc(ds)
      .filter(_.warc_type == "conversion")
      .map(r => (r.doc_id, r.rec_idx, r.target_uri, r.payload))
  }

  // ------------------------------------------------------------------
  // Fixture builder (real framing, real per-record gzip members)
  // ------------------------------------------------------------------

  private def gzipMember(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  private def record(headers: Seq[(String, String)], body: Array[Byte],
      lowerCase: Boolean): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    o.write("WARC/1.0\r\n".getBytes("ISO-8859-1"))
    (headers :+ ("Content-Length" -> body.length.toString)).foreach { case (k, v) =>
      val key = if (lowerCase) k.toLowerCase else k
      o.write(s"$key: $v\r\n".getBytes("UTF-8"))
    }
    o.write(CRLF); o.write(body); o.write(CRLF); o.write(CRLF)
    o.toByteArray
  }

  private def httpResponse(status: Int, reason: String, body: String): Array[Byte] =
    (s"HTTP/1.1 $status $reason\r\nContent-Type: text/html\r\n\r\n" + body)
      .getBytes("UTF-8")

  /** A well-formed archive: one warcinfo record, then `nResponses`
    * response records (preceded by a request record each when
    * `withRequests` — rec_idx accounting is load-bearing), each nesting
    * a real HTTP message. `gzipped` wraps EVERY record in its own gzip
    * member (the Common Crawl layout). `lowerCaseHeaders` exercises the
    * spec's header case-insensitivity. */
  def syntheticWarc(nResponses: Int, uri: Int => String,
      status: Int => (Int, String), htmlBody: Int => String,
      gzipped: Boolean, withRequests: Boolean,
      lowerCaseHeaders: Boolean, infoLen: Int): Array[Byte] = {
    require(nResponses >= 1 && infoLen >= 0)
    val recs = Seq.newBuilder[Array[Byte]]
    recs += record(Seq("WARC-Type" -> "warcinfo", "Content-Type" -> "application/warc-fields"),
      Array.tabulate[Byte](infoLen)(i => ('a' + i % 26).toByte), lowerCaseHeaders)
    (0 until nResponses).foreach { i =>
      if (withRequests)
        recs += record(Seq("WARC-Type" -> "request", "WARC-Target-URI" -> uri(i),
          "Content-Type" -> "application/http;msgtype=request"),
          s"GET / HTTP/1.1\r\nHost: h$i\r\n\r\n".getBytes("ISO-8859-1"), lowerCaseHeaders)
      val (code, reason) = status(i)
      recs += record(Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri(i),
        "Content-Type" -> "application/http;msgtype=response"),
        httpResponse(code, reason, htmlBody(i)), lowerCaseHeaders)
    }
    val all = recs.result()
    if (gzipped) all.map(gzipMember).fold(Array.emptyByteArray)(_ ++ _)
    else all.fold(Array.emptyByteArray)(_ ++ _)
  }

  /** Response records with CALLER-CONTROLLED body bytes and HTTP
    * Content-Type — the charset-resolution fixture surface (round 15):
    * one warcinfo record, then one response per `(uri, httpCtype,
    * body)` triple. Bodies pass through verbatim (no re-encoding), so
    * a test can plant cp1252/Shift_JIS/BOM byte sequences exactly. */
  def syntheticWarcRaw(recs: Seq[(String, String, Array[Byte])],
      gzipped: Boolean): Array[Byte] = {
    val out = Seq.newBuilder[Array[Byte]]
    out += record(Seq("WARC-Type" -> "warcinfo",
      "Content-Type" -> "application/warc-fields"),
      "software: graft-charset-fixture".getBytes("UTF-8"), lowerCase = false)
    recs.foreach { case (uri, ctype, body) =>
      val head = s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n"
        .getBytes("ISO-8859-1")
      out += record(Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
        "Content-Type" -> "application/http;msgtype=response"),
        head ++ body, lowerCase = false)
    }
    val all = out.result()
    if (gzipped) all.map(gzipMember).fold(Array.emptyByteArray)(_ ++ _)
    else all.fold(Array.emptyByteArray)(_ ++ _)
  }

  /** Response records with caller-controlled nested-HTTP HEADERS and
    * body bytes (round 15) — the transfer/content-encoding fixture
    * surface: `(uri, httpHeaders, wireBody)` triples pass through
    * verbatim, so a test can plant chunked framing and gzip/deflate
    * entities exactly as a crawler stores them. */
  def syntheticWarcHttp(recs: Seq[(String, Seq[(String, String)], Array[Byte])],
      gzipped: Boolean): Array[Byte] = {
    val out = Seq.newBuilder[Array[Byte]]
    out += record(Seq("WARC-Type" -> "warcinfo",
      "Content-Type" -> "application/warc-fields"),
      "software: graft-http-enc-fixture".getBytes("UTF-8"), lowerCase = false)
    recs.foreach { case (uri, hdrs, body) =>
      val head = ("HTTP/1.1 200 OK\r\n" +
        hdrs.map { case (k, v) => s"$k: $v\r\n" }.mkString + "\r\n")
        .getBytes("ISO-8859-1")
      out += record(Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
        "Content-Type" -> "application/http;msgtype=response"),
        head ++ body, lowerCase = false)
    }
    val all = out.result()
    if (gzipped) all.map(gzipMember).fold(Array.emptyByteArray)(_ ++ _)
    else all.fold(Array.emptyByteArray)(_ ++ _)
  }

  /** Wire-side chunked framing for fixtures: splits `body` into
    * `sizes`-byte chunks (last chunk takes the remainder), one chunk
    * extension planted, terminating 0-chunk appended. */
  def chunkEncode(body: Array[Byte], sizes: Seq[Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    var i = 0
    while (p < body.length) {
      val n = if (i < sizes.length) math.min(sizes(i), body.length - p)
        else body.length - p
      val ext = if (i == 0) ";x=1" else ""
      out.write(s"${n.toHexString}$ext\r\n".getBytes("ISO-8859-1"))
      out.write(body, p, n)
      out.write("\r\n".getBytes("ISO-8859-1"))
      p += n
      i += 1
    }
    out.write("0\r\n\r\n".getBytes("ISO-8859-1"))
    out.toByteArray
  }

  /** A WET archive (the Common Crawl text layer): one warcinfo record,
    * then `conversion` records with text/plain bodies — the payload is
    * the text itself. Per-record gzip members when `gzipped`. */
  def syntheticWet(texts: Seq[(String, String)], gzipped: Boolean): Array[Byte] = {
    val recs = Seq.newBuilder[Array[Byte]]
    recs += record(Seq("WARC-Type" -> "warcinfo",
      "Content-Type" -> "application/warc-fields"),
      "software: graft-wet-fixture".getBytes("UTF-8"), lowerCase = false)
    texts.foreach { case (uri, text) =>
      recs += record(Seq("WARC-Type" -> "conversion", "WARC-Target-URI" -> uri,
        "Content-Type" -> "text/plain"), text.getBytes("UTF-8"), lowerCase = false)
    }
    val all = recs.result()
    if (gzipped) all.map(gzipMember).fold(Array.emptyByteArray)(_ ++ _)
    else all.fold(Array.emptyByteArray)(_ ++ _)
  }

  // ------------------------------------------------------------------
  // CDX indexing (round 15) — the crawl-scale random-access layer.
  // A 100 TB WARC crawl is never re-scanned to find one capture: the
  // companion CDX(J) index (one slim row per record: canonical url
  // key, 14-digit timestamp, digest, and the record's BYTE RANGE in
  // the archive) is what every seeking reader and every revisit-dedup
  // pass rides. Building it is a pure flatMap over the archive bytes —
  // and for the Common Crawl layout (one gzip member per record) the
  // offsets must be MEMBER offsets in the COMPRESSED file, so the walk
  // goes member by member ([[graft.serde.Zlib.gzipMembers]]) instead of
  // decompressing the whole stream.
  //
  // Design choices, documented:
  //  - urlkey is [[Crawl.surt]] — the ENGINE'S ONE urlkey function,
  //    shared with the CDXJ reader ([[Crawl.cdxRecords]]) so an index
  //    generated here joins an index read there on equal keys
  //    (WarcSpec holds that consistency). Records without a
  //    WARC-Target-URI key as null.
  //  - digest is lowercase sha256 hex of the ENTITY bytes (the nested
  //    HTTP body after chunked/content-encoding removal; the whole
  //    WARC body for non-HTTP records). Classic CDX uses base32 sha1;
  //    sha256 is the deliberate deviation — it is what the oracle
  //    engine can replay, and inside one index the only property that
  //    matters is that equal payloads collide and unequal ones don't.
  //  - ts14 keeps the digits of WARC-Date (ISO 8601) — exactly 14 for
  //    a well-formed date; a malformed date degrades to its digit
  //    prefix, never a throw.
  // ------------------------------------------------------------------

  /** One CDX row. `offset`/`rlength` frame the record in the ORIGINAL
    * archive bytes: the gzip member for a member-compressed archive,
    * the record span for a plain one — `[offset, offset+rlength)` fed
    * back to the parser yields exactly this record (WarcSpec holds
    * that round-trip). */
  case class CdxRow(doc_id: Long, rec_idx: Int, urlkey: String, ts14: String,
      url: String, mime: String, status: Int, digest: String,
      offset: Long, rlength: Long, rec_type: String)

  /** WARC-Date → the CDX 14-digit timestamp: digits only, first 14. */
  private[graft] def ts14(warcDate: String): String =
    if (warcDate == null) "" else warcDate.filter(_.isDigit).take(14)

  private[graft] def sha256Hex(b: Array[Byte], from: Int, to: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(b, from, to - from)
    md.digest().map(x => f"${x & 0xFF}%02x").mkString
  }

  /** Member frames only — the WarcSpec contiguity surface. */
  private[graft] def gzipMemberBounds(raw: Array[Byte]): Seq[(Long, Long)] =
    Zlib.gzipMembers(raw).map { case (o, l, _) => (o, l) }

  /** Walk records in `[from, to)` of UNCOMPRESSED bytes, emitting the
    * slim CDX view (no text decode — the index never materializes
    * payloads): per record its header fields, nested-HTTP status/mime,
    * and the sha256 of the entity bytes. Returns (row sans offsets,
    * recStart, recLen) so both layouts can frame it. */
  private def cdxWalk(b: Array[Byte], from: Int, to: Int): Seq[(CdxRow, Int, Int)] = {
    val out = Seq.newBuilder[(CdxRow, Int, Int)]
    var p = from
    var broken = false
    while (!broken && p + 7 <= to) {
      val recStart = p
      val eol = indexOfCrlf(b, p, to)
      if (eol < 0 || !new String(b, p, math.min(5, eol - p), "ISO-8859-1").equals("WARC/"))
        broken = true
      else parseHeaders(b, eol + 2, to) match {
        case None => broken = true
        case Some((hdrs, bodyStart)) =>
          hdrs.get("content-length").flatMap(_.toLongOption) match {
            case Some(cl) if cl >= 0 && bodyStart + cl + 4 <= to =>
              val bodyEnd = bodyStart + cl.toInt
              if (b(bodyEnd) != '\r' || b(bodyEnd + 1) != '\n' ||
                  b(bodyEnd + 2) != '\r' || b(bodyEnd + 3) != '\n') broken = true
              else {
                val ctype = hdrs.getOrElse("content-type", "")
                val ne = nestedEntity(b, bodyStart, bodyEnd, ctype)
                val mime = ne.mime.getOrElse(ctype.takeWhile(_ != ';').trim.toLowerCase)
                val digest =
                  if (ne.entity == null) sha256Hex(b, ne.payStart, bodyEnd)
                  else sha256Hex(ne.entity, 0, ne.entity.length)
                val uri = hdrs.getOrElse("warc-target-uri", null)
                out += ((CdxRow(-1L, -1, if (uri == null) null else Crawl.surt(uri),
                  ts14(hdrs.getOrElse("warc-date", "")), uri, mime, ne.status,
                  digest, -1L, -1L, hdrs.getOrElse("warc-type", "")),
                  recStart, bodyEnd + 4 - recStart))
                p = bodyEnd + 4
              }
            case _ => broken = true
          }
      }
    }
    out.result()
  }

  /** Archive bytes → CDX rows. Member-gzipped archives get MEMBER
    * offsets/lengths (every record in a member shares its frame — the
    * Common Crawl layout is one record per member); plain archives get
    * record byte spans. Total — corrupt tails degrade to the parsed
    * prefix, same as [[parseWarc]]. */
  private[graft] def cdxIndex(raw: Array[Byte]): Seq[CdxRow] = {
    if (raw.length < 2) return Nil
    val rows = Seq.newBuilder[CdxRow]
    var idx = 0
    if ((raw(0) & 0xFF) == 0x1F && (raw(1) & 0xFF) == 0x8B) {
      Zlib.gzipMembers(raw).foreach { case (off, len, m) =>
        cdxWalk(m, 0, m.length).foreach { case (r, _, _) =>
          rows += r.copy(rec_idx = idx, offset = off, rlength = len)
          idx += 1
        }
      }
    } else {
      cdxWalk(raw, 0, raw.length).foreach { case (r, s, l) =>
        rows += r.copy(rec_idx = idx, offset = s.toLong, rlength = l.toLong)
        idx += 1
      }
    }
    rows.result()
  }

  /** Archive blobs → CDX rows, the same pure flatMap shape as
    * [[readWarc]] — at 100 TB this is one scan-resident pass whose
    * output is ~0.1% of its input, the textbook slim-projection kernel. */
  def cdxRecords(ds: Dataset[Media]): Dataset[CdxRow] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap { m =>
      cdxIndex(m.media).map(r => r.copy(doc_id = m.doc_id))
    })
  }

  /** Revisit dedup over a CDX frame — the crawl-dedup primitive: the
    * FIRST capture (by ts14, then doc_id/rec_idx for a total order) of
    * each (urlkey, digest) keeps, later identical captures become
    * revisits. One hash shuffle on the pair key; the window never sees
    * more than one key's captures per task. Null urlkeys (non-URL
    * records: warcinfo, metadata) pass through as keep=1 — they are
    * not captures. */
  def revisitDedup(cdx: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("urlkey"), col("digest"))
      .orderBy(col("ts14"), col("doc_id"), col("rec_idx"))
    cdx.withColumn("keep",
      when(col("urlkey").isNull, lit(1))
        .otherwise(when(row_number().over(w) === 1, lit(1)).otherwise(lit(0))))
  }

  /** CDX-driven random access (round 15) — the consumer the index
    * exists for, and the WARC twin of [[Wiki.slicePagesFs]]: given
    * slim `(CdxRow, path)` rows, each task opens the archive once per
    * distinct path, does POSITIONED reads of exactly the indexed
    * `[offset, offset+rlength)` frames (gzip member or plain record
    * span — [[parseWarc]] dispatches on the magic), and parses the
    * records inside. One seeking read per wanted capture instead of a
    * 100 TB scan; `rows.repartition(n)` is the parallelism dial.
    * Output rows keep the INDEX's doc_id/rec_idx identity. Unreadable
    * or corrupt frames skip — corrupt-input posture, never a task
    * failure; handles close on every task exit path (the
    * TaskCompletionListener backstop, [[Wiki.slicePagesFs]]'s rule). */
  def fetchRecords(rows: org.apache.spark.sql.Dataset[(CdxRow, String)]): Dataset[WarcRecord] = {
    val spark = rows.sparkSession
    import spark.implicits._
    FsRanged.mapRanged(rows) { (in, r) =>
      // a frame past Int.MaxValue cannot buffer in one JVM array — an
      // explicit implementation bound, skipped like a corrupt frame
      // (negative toInt would otherwise throw inside the read)
      if (r.rlength <= 0 || r.rlength > Int.MaxValue - 8) Iterator.empty
      else {
        val buf = new Array[Byte](r.rlength.toInt)
        in.readFully(r.offset, buf) // positioned read: thread-safe, seek-free
        val bytes =
          if (buf.length >= 2 && (buf(0) & 0xFF) == 0x1F && (buf(1) & 0xFF) == 0x8B)
            Zlib.gunzipAll(buf).getOrElse(Array.emptyByteArray)
          else buf
        // a gzip member MAY hold several records sharing this frame
        // (the cdxIndex contract) — select by the index row's own
        // identity fields, zipping the frame's records with its cdx
        // view (same walk, same prefix rule, so positions align);
        // identical twins inside one member are indistinguishable by
        // construction, so the FIRST match stands for the row
        val recs = parseWarc(bytes)
        val keyed = cdxWalk(bytes, 0, bytes.length)
        recs.zip(keyed).collectFirst {
          case (w, (c, _, _))
              if c.urlkey == r.urlkey && c.ts14 == r.ts14 &&
                c.digest == r.digest && c.rec_type == r.rec_type =>
            w.copy(doc_id = r.doc_id, rec_idx = r.rec_idx)
        }.iterator
      }
    }
  }

  /** Dated-response fixture for the CDX family: one warcinfo record,
    * then a 200 text/html response per `(uri, warcDate, body)` triple
    * with WARC-Date carried — the field [[cdxIndex]] keys time on. */
  def syntheticWarcDated(recs: Seq[(String, String, String)],
      gzipped: Boolean): Array[Byte] = {
    val out = Seq.newBuilder[Array[Byte]]
    out += record(Seq("WARC-Type" -> "warcinfo",
      "Content-Type" -> "application/warc-fields"),
      "software: graft-cdx-fixture".getBytes("UTF-8"), lowerCase = false)
    recs.foreach { case (uri, date, body) =>
      val head = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        .getBytes("ISO-8859-1")
      out += record(Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
        "WARC-Date" -> date,
        "Content-Type" -> "application/http;msgtype=response"),
        head ++ body.getBytes("UTF-8"), lowerCase = false)
    }
    val all = out.result()
    if (gzipped) all.map(gzipMember).fold(Array.emptyByteArray)(_ ++ _)
    else all.fold(Array.emptyByteArray)(_ ++ _)
  }
}
