package graft.llm

import org.scalatest.funsuite.AnyFunSuite

/** WARC ingestion + HTML text extraction (round 13). Pins (a) every
  * record field against the q_warc_records fixture formulas across an
  * id sweep, (b) gzip-transparency — the per-record-member archive
  * must parse to EXACTLY the plain archive's records, (c) the
  * extraction semantics q_warc_html replays (script/style content must
  * not leak, entities, whitespace), and (d) the corrupt-input prefix
  * posture. */
class WarcSpec extends AnyFunSuite {

  // the q_warc_records fixture formulas, verbatim
  private def html(id: Long, i: Int): String =
    s"""<html><head><title>T$id-$i</title><script>var a="<p>x</p>";</script>""" +
      s"""<style>p{color:red}</style></head><body><h1 id="h">H ${(id + i) % 50}</h1>""" +
      s"""<p>W&amp;b ${(id * 3 + i) % 97}</p><!-- c -->""" +
      s"""<div>Tail&nbsp;${(id + 7 * i) % 89}</div></body></html>"""

  private def warcBytes(id: Long, gz: Boolean): Array[Byte] =
    Warc.syntheticWarc(
      nResponses = (2 + id % 3).toInt,
      uri = i => s"https://ex.org/$id/$i",
      status = i => ((id + i) % 3) match {
        case 0 => (200, "OK")
        case 1 => (404, "Not Found")
        case _ => (301, "Moved")
      },
      htmlBody = i => html(id, i),
      gzipped = gz,
      withRequests = id % 4 == 2,
      lowerCaseHeaders = id % 5 == 0,
      infoLen = (15 + id % 20).toInt)

  test("record fields hold across the id sweep; gzip members are invisible") {
    for (id <- 0L until 120L) {
      val plain = Warc.parseWarc(warcBytes(id, gz = false))
      val gzipped = Warc.parseWarc(warcBytes(id, gz = true))
      assert(plain == gzipped, s"per-record gzip members must be invisible at id=$id")
      val nResp = (2 + id % 3).toInt
      val withReq = id % 4 == 2
      assert(plain.length == 1 + nResp * (if (withReq) 2 else 1), s"record count at id=$id")
      val info = plain.head
      assert(info.warc_type == "warcinfo" && info.http_status == 0 &&
        info.payload_len == 15 + id % 20 &&
        info.payload == Array.tabulate((15 + id % 20).toInt)(
          j => ('a' + j % 26).toChar).mkString,
        s"warcinfo passthrough at id=$id (non-HTTP body verbatim)")
      val responses = plain.filter(_.warc_type == "response")
      assert(responses.length == nResp)
      responses.zipWithIndex.foreach { case (r, i) =>
        assert(r.rec_idx == (if (withReq) 2 + 2 * i else 1 + i), s"rec_idx at id=$id i=$i")
        assert(r.target_uri == s"https://ex.org/$id/$i", s"uri at id=$id i=$i")
        val reason = ((id + i) % 3) match { case 0 => 2; case 1 => 9; case _ => 5 }
        val code = ((id + i) % 3) match { case 0 => 200; case 1 => 404; case _ => 301 }
        assert(r.http_status == code, s"status at id=$id i=$i")
        assert(r.payload == html(id, i), s"payload at id=$id i=$i")
        assert(r.payload_len == html(id, i).length, s"payload_len at id=$id i=$i")
        assert(r.content_length == 42 + reason + html(id, i).length,
          s"content_length (nested HTTP framing) at id=$id i=$i")
      }
      if (withReq)
        assert(plain.count(_.warc_type == "request") == nResp, s"requests at id=$id")
    }
  }

  test("htmlText: script/style content never leaks; entities; whitespace; totality") {
    assert(Warc.htmlText(html(7, 1)) == s"T7-1 H ${8 % 50} W&b ${22 % 97} Tail ${14 % 89}")
    assert(!Warc.htmlText(html(3, 0)).contains("var a"), "script body must not leak")
    assert(!Warc.htmlText(html(3, 0)).contains("color"), "style body must not leak")
    assert(Warc.htmlText("<SCRIPT>x=1</SCRIPT>ok") == "ok", "case-insensitive script")
    assert(Warc.htmlText("<script >a</script\t>b<style x=1>c</style>d") == "b d",
      "attributes and whitespace in open/close tags (tags become spaces)")
    assert(Warc.htmlText("a &#65;&#x42;c &bogus; &gt;") == "a ABc &bogus; >",
      "numeric dec/hex decode; unknown entities survive verbatim")
    assert(Warc.htmlText("a\n\n b\t c") == "a b c", "whitespace collapse")
    assert(Warc.htmlText(null) == "" && Warc.htmlText("") == "")
    assert(Warc.htmlText("<unclosed") == "<unclosed", "tag never closes: text kept")
    assert(Warc.htmlText("&#xFFFFFFF;") == "&#xFFFFFFF;", "invalid code point survives")
  }

  // ------------------------------------------------------------------
  // round 15: payload charset resolution
  // ------------------------------------------------------------------

  test("charsetFor: WHATWG label upgrade and unknown-label degrade") {
    assert(Warc.charsetFor("ISO-8859-1").map(_.name) === Some("windows-1252"))
    assert(Warc.charsetFor("latin1").map(_.name) === Some("windows-1252"))
    assert(Warc.charsetFor("us-ascii").map(_.name) === Some("windows-1252"))
    assert(Warc.charsetFor("\"UTF-8\"").map(_.name) === Some("UTF-8"))
    assert(Warc.charsetFor("Shift_JIS").map(_.name) === Some("Shift_JIS"))
    assert(Warc.charsetFor("gb18030").isDefined)
    assert(Warc.charsetFor("no-such-charset-xyz") === None)
    assert(Warc.charsetFor("") === None)
  }

  test("decodePayload: the full resolution chain, byte-exact") {
    def dp(b: Array[Byte], http: Option[String] = None) =
      Warc.decodePayload(b, 0, b.length, http)
    def bs(xs: Int*) = xs.map(_.toByte).toArray
    // BOMs win and are consumed
    assert(dp(bs(0xEF, 0xBB, 0xBF) ++ "é".getBytes("UTF-8"),
      Some("windows-1252")) === ("é", "utf-8"))
    assert(dp(bs(0xFF, 0xFE) ++ "hi".getBytes("UTF-16LE")) === ("hi", "utf-16le"))
    assert(dp(bs(0xFE, 0xFF) ++ "hi".getBytes("UTF-16BE")) === ("hi", "utf-16be"))
    // HTTP charset beats meta
    val metaBody = "<meta charset=utf-8>x".getBytes("ISO-8859-1")
    assert(dp(metaBody, Some("windows-1252"))._1.endsWith("“"))
    // meta sniff: both forms
    assert(dp("<meta charset=windows-1252>".getBytes("ISO-8859-1"))._2
      === "windows-1252")
    assert(dp(("<meta http-equiv=\"Content-Type\" content=\"text/html; " +
      "charset=shift_jis\">").getBytes("ISO-8859-1") ++
      "語".getBytes("Shift_JIS"))._1.endsWith("語"))
    // undeclared: strict-valid UTF-8 stays UTF-8 ...
    assert(dp("fjörd".getBytes("UTF-8")) === ("fjörd", "utf-8"))
    // ... invalid falls back cp1252 (C1 range maps to punctuation)
    assert(dp(bs('x', 0x80, 0x99)) === ("x€™", "windows-1252"))
    // latin-1-LABELED transport still upgrades to cp1252
    assert(dp(bs(0x85), Some("iso-8859-1")) === ("…", "windows-1252"))
    // total on empty
    assert(dp(Array.emptyByteArray) === ("", "utf-8"))
  }

  test("nested HTTP Content-Type drives the record's payload decode") {
    val arc = Warc.syntheticWarcRaw(Seq(
      ("http://a/", "text/html; charset=windows-1252",
        Array[Byte]('q', 0x93.toByte)),
      ("http://b/", "text/plain", "plain ascii".getBytes("UTF-8"))),
      gzipped = false)
    val recs = Warc.parseWarc(arc).filter(_.warc_type == "response")
    assert(recs.map(r => (r.payload, r.charset)) ===
      Seq(("q“", "windows-1252"), ("plain ascii", "utf-8")))
    // gzipped layout decodes identically
    val gz = Warc.parseWarc(Warc.syntheticWarcRaw(Seq(
      ("http://a/", "text/html; charset=windows-1252",
        Array[Byte]('q', 0x93.toByte))), gzipped = true))
      .filter(_.warc_type == "response")
    assert(gz.map(r => (r.payload, r.charset)) === Seq(("q“", "windows-1252")))
  }

  test("HTTP wire encodings: dechunk, content-decode, fallbacks") {
    def b(s: String) = s.getBytes("ISO-8859-1")
    // dechunk hand vectors: extension ignored, trailer ignored,
    // framing violations -> None
    def dc(s: String) = {
      val x = b(s)
      Warc.dechunk(x, 0, x.length).map(new String(_, "UTF-8"))
    }
    assert(dc("3;x=y\r\nabc\r\n2\r\nde\r\n0\r\n\r\n") === Some("abcde"))
    assert(dc("3\r\nabc\r\n0\r\nX-T: v\r\n\r\n") === Some("abc"))
    assert(dc("ZZ\r\nabc\r\n0\r\n\r\n") === None)
    assert(dc("5\r\nabc\r\n0\r\n\r\n") === None, "size past end")
    assert(dc("3\r\nabc") === None, "no terminator")
    // hostile size lines must not wrap the bounds check (regression:
    // 7FFFFFFF made p + size negative and sailed past the guard)
    assert(dc("7FFFFFFF\r\nabc\r\n0\r\n\r\n") === None, "Int.MaxValue size")
    assert(dc("FFFFFFFFFFFFFFFFFF\r\nabc\r\n0\r\n\r\n") === None, "past-Long size")
    // chunkEncode roundtrips through dechunk
    val body = ("payload " * 20).getBytes("UTF-8")
    val wire = Warc.chunkEncode(body, Seq(7, 31, 2))
    assert(Warc.dechunk(wire, 0, wire.length).map(_.toSeq) === Some(body.toSeq))
    // end-to-end: TE+CE order, unknown coding kept raw, liar fallback
    def gz(x: Array[Byte]) = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(x); g.close(); bos.toByteArray
    }
    val arc = Warc.syntheticWarcHttp(Seq(
      ("http://a/", Seq("Content-Type" -> "text/plain; charset=utf-8",
        "Transfer-Encoding" -> "chunked", "Content-Encoding" -> "gzip"),
        Warc.chunkEncode(gz("both ways".getBytes("UTF-8")), Seq(5))),
      ("http://b/", Seq("Content-Type" -> "text/plain",
        "Content-Encoding" -> "br"), b("raw kept")),
      ("http://c/", Seq("Content-Type" -> "text/plain",
        "Transfer-Encoding" -> "chunked"), b("not actually chunked"))),
      gzipped = false)
    val recs = Warc.parseWarc(arc).filter(_.warc_type == "response")
    assert(recs.map(_.payload) === Seq("both ways", "raw kept", "not actually chunked"))
  }

  test("corrupt archives keep the parsed prefix and never throw") {
    val good = warcBytes(5L, gz = false)
    val full = Warc.parseWarc(good)
    assert(Warc.parseWarc(null).isEmpty)
    assert(Warc.parseWarc("HTTP/1.1 200 OK\r\n\r\n".getBytes).isEmpty)
    // cut inside the LAST record: every earlier record survives
    val cut = Warc.parseWarc(good.take(good.length - 10))
    assert(cut == full.dropRight(1), "prefix records survive truncation")
    for (c <- Seq(3, 10, 50, good.length / 2)) Warc.parseWarc(good.take(c)) // no throw
    // a lying Content-Length stops the walk at that record (id=6: plain,
    // canonical header case, so the header is findable by name)
    val arc6 = warcBytes(6L, gz = false)
    val lieAt = new String(arc6, "ISO-8859-1").indexOf("Content-Length: ")
    assert(lieAt > 0)
    val lied = arc6.clone()
    lied(lieAt + 16) = '9'; lied(lieAt + 17) = '9'
    assert(Warc.parseWarc(lied).isEmpty, "first record's lying length -> no records")
    // corrupt gzip tail: None -> no records, no throw
    val gzArc = warcBytes(4L, gz = true)
    Warc.parseWarc(gzArc.take(gzArc.length / 2)) // no throw
  }

  // ------------------------------------------------------------------
  // CDX indexing (round 15)
  // ------------------------------------------------------------------

  test("cdx urlkeys ARE Crawl.surt — the generated index joins the CDXJ reader") {
    // one urlkey function in the engine: whatever the writer emits,
    // the reader-side surt of the same url must equal it
    for (url <- Seq("HTTP://WwW.Ex7.ORG:80/P7/0?b=2&a=7#f",
        "https://h.net:8080/x", "http://a.b.c/q?z=1&y=2")) {
      val arc = Warc.syntheticWarcDated(
        Seq((url, "2026-08-16T12:34:56Z", "<p>x</p>")), gzipped = false)
      val row = Warc.cdxIndex(arc).find(_.rec_type == "response").get
      assert(row.urlkey == Crawl.surt(url), s"writer key == reader key for $url")
    }
    assert(Warc.ts14("2026-08-16T12:34:56Z") == "20260816123456")
    assert(Warc.ts14("garbage") == "")
    // the published SHA-256 test vector pins the digest encoding
    assert(Warc.sha256Hex("abc".getBytes("UTF-8"), 0, 3)
      == "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }

  test("cdxIndex offsets round-trip: the slice re-parses to the same record") {
    for (id <- 0L until 24L; gz <- Seq(false, true)) {
      val recs = (0 until (2 + id % 2).toInt).map { i =>
        (s"http://h$id.net/p$i", f"2026-08-${1 + (id + i) % 28}%02dT00:00:0${i % 10}Z",
          s"<p>cdx $id $i</p>")
      }
      val arc = Warc.syntheticWarcDated(recs, gzipped = gz)
      val rows = Warc.cdxIndex(arc)
      assert(rows.length == recs.length + 1, s"id=$id gz=$gz: warcinfo + responses")
      assert(rows.head.rec_type == "warcinfo" && rows.head.urlkey == null)
      rows.foreach { r =>
        val slice = java.util.Arrays.copyOfRange(arc, r.offset.toInt,
          (r.offset + r.rlength).toInt)
        val again = Warc.cdxIndex(slice)
        assert(again.length == 1, s"id=$id gz=$gz rec=${r.rec_idx}: slice is one record")
        assert(again.head.urlkey == r.urlkey && again.head.digest == r.digest &&
          again.head.ts14 == r.ts14, s"id=$id gz=$gz rec=${r.rec_idx}: slice round-trips")
      }
      // responses carry the SURT key and the body digest
      rows.drop(1).zipWithIndex.foreach { case (r, i) =>
        assert(r.urlkey == s"net,h$id)/p$i")
        assert(r.status == 200 && r.mime == "text/html" && r.rec_type == "response")
        val body = s"<p>cdx $id $i</p>".getBytes("UTF-8")
        assert(r.digest == Warc.sha256Hex(body, 0, body.length))
      }
    }
  }

  test("gzipMemberBounds walks member-by-member; corrupt tails keep the prefix") {
    val recs = Seq(("http://a.net/", "2026-01-01T00:00:00Z", "one"),
      ("http://b.net/", "2026-01-02T00:00:00Z", "two"))
    val arc = Warc.syntheticWarcDated(recs, gzipped = true)
    val bounds = Warc.gzipMemberBounds(arc)
    assert(bounds.length == 3, "warcinfo + 2 responses, one member each")
    assert(bounds.head._1 == 0L)
    assert(bounds.map { case (o, l) => o + l }.max == arc.length)
    // contiguity: each member starts where the previous ends
    bounds.sliding(2).foreach { case Seq((o1, l1), (o2, _)) => assert(o1 + l1 == o2) }
    // truncation inside the last member: earlier members survive
    val cut = Warc.gzipMemberBounds(arc.take(arc.length - 5))
    assert(cut == bounds.dropRight(1))
    // digest entity scope: chunked+gzipped response digests the DECODED
    // entity, not the wire bytes (shared posture with parseWarc)
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close()
      bos.toByteArray
    }
    val wire = Warc.chunkEncode(gz("entity text".getBytes("UTF-8")), Seq(9))
    val arc2 = Warc.syntheticWarcHttp(Seq(("http://e.net/", Seq(
      "Content-Type" -> "text/plain",
      "Transfer-Encoding" -> "chunked", "Content-Encoding" -> "gzip"), wire)),
      gzipped = false)
    val row = Warc.cdxIndex(arc2).find(_.rec_type == "response").get
    val ent = "entity text".getBytes("UTF-8")
    assert(row.digest == Warc.sha256Hex(ent, 0, ent.length))
    assert(row.mime == "text/plain")
  }
}
