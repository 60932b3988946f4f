package graft.llm

import org.scalatest.funsuite.AnyFunSuite

/** PDF object walk + text extraction (round 13). Pins (a) the COS
  * lexer's string semantics byte-by-byte (escapes, octal, continuation,
  * EOL normalization, hex padding, name #-escapes), (b) the content
  * executor's line model against hand-assembled operator streams, (c)
  * the q_pdf_* fixture formulas across an id sweep — every layout knob
  * (flate/plain, /Contents arrays, indirect /Length, out-of-order
  * bodies, nested page trees, all-octal literals) must land on the SAME
  * extracted text, (d) the encrypted-refusal posture, and (e) the
  * corrupt-input prefix rule. */
class PdfSpec extends AnyFunSuite {

  // the q_pdf_* fixture formulas, verbatim
  private def line(id: Long, p: Int, j: Int): String =
    s"L$j P$p D$id (k=${(id + 3 * p + 7 * j) % 53})"
  private def nPages(id: Long): Int = (1 + id % 3).toInt
  private def nLines(id: Long, p: Int): Int = (2 + (id + p) % 3).toInt
  private def pageText(id: Long, p: Int): String =
    (0 until nLines(id, p)).map(line(id, p, _)).mkString("\n")

  private def pdfBytes(id: Long): Array[Byte] =
    Pdf.syntheticPdf(
      version = s"1.${4 + id % 4}",
      lines = p => (0 until nLines(id, p)).map(line(id, p, _)),
      nPages = nPages(id),
      formSeed = (id % 4).toInt,
      octalAll = id % 5 == 0,
      flate = p => (id + p) % 2 == 0,
      filterArray = id % 7 == 3,
      twoStreams = p => (id + p) % 5 == 0,
      indirectLength = id % 6 == 2,
      outOfOrder = id % 4 == 1,
      nested = id % 3 == 0,
      encrypted = id % 11 == 7)

  private def extract(content: String): String =
    Pdf.extractText(content.getBytes("ISO-8859-1"))._2

  // ------------------------------------------------------------------
  // lexer string semantics
  // ------------------------------------------------------------------

  test("literal-string escapes decode per ISO 32000 §7.3.4.2") {
    assert(extract("BT (a\\(b\\)c\\\\d) Tj ET") == "a(b)c\\d")
    assert(extract("BT (x\\ny\\tz) Tj ET") == "x\ny\tz")
    // 1-3 digit octal, stopping at the first non-octal char
    assert(extract("BT (\\101\\102\\7a) Tj ET") == "AB\u0007a")
    // \<EOL> is a line CONTINUATION (no byte); a raw EOL reads as \n,
    // with CRLF collapsing to one
    assert(extract("BT (ab\\\ncd) Tj ET") == "abcd")
    assert(extract("BT (ab\r\ncd) Tj ET") == "ab\ncd")
    // unknown escape drops the backslash
    assert(extract("BT (a\\qb) Tj ET") == "aqb")
    // balanced inner parens need no escapes
    assert(extract("BT (a(b)c) Tj ET") == "a(b)c")
  }

  test("hex strings: whitespace-transparent pairs, odd digit pads with 0") {
    assert(extract("BT <4142> Tj ET") == "AB")
    assert(extract("BT <41 4\n2> Tj ET") == "AB")
    assert(extract("BT <414> Tj ET") == "A@") // odd: trailing 4 → 0x40
  }

  test("content executor: line model and show forms") {
    // Td with ty=0 is a horizontal move, NOT a line break
    assert(extract("BT (a) Tj 10 0 Td (b) Tj ET") == "ab")
    assert(extract("BT (a) Tj 0 -14 Td (b) Tj ET") == "a\nb")
    assert(extract("BT (a) Tj T* (b) Tj ET") == "a\nb")
    assert(extract("BT (a) Tj (b) ' ET") == "a\nb")
    assert(extract("BT (a) Tj 2 3 (b) \" ET") == "a\nb")
    // TJ: strings concatenate, kerning numbers are positioning only
    assert(extract("BT [ (a) -250 (b) 12 (c) ] TJ ET") == "abc")
    // ET separates text blocks; no leading or trailing newline survives
    assert(extract("BT (a) Tj ET BT (b) Tj ET") == "a\nb")
    assert(extract("q 1 0 0 1 50 50 cm BT /F1 9 Tf 0 700 Td (x) Tj ET Q") == "x")
    // n_shows counts executed show operators
    assert(Pdf.extractText("BT (a) Tj [ (b) (c) ] TJ (d) ' ET".getBytes("ISO-8859-1"))._1 == 3)
  }

  // ------------------------------------------------------------------
  // fixture sweep: every knob lands on the same closed-form text
  // ------------------------------------------------------------------

  test("meta and page text hold across the id sweep") {
    for (id <- 0L until 120L) {
      val b = pdfBytes(id)
      val meta = Pdf.metaOf(id, b).getOrElse(fail(s"unparseable fixture at id=$id"))
      assert(meta.version == s"1.${4 + id % 4}", s"version at id=$id")
      assert(meta.n_pages == nPages(id), s"n_pages at id=$id")
      val ncs = (0 until nPages(id)).map(p => if ((id + p) % 5 == 0) 2 else 1)
      assert(meta.n_streams == ncs.sum, s"n_streams at id=$id")
      val expObjs = 3 + (if (id % 3 == 0) 1 else 0) + (if (id % 11 == 7) 1 else 0) +
        ncs.map(nc => 1 + nc * (if (id % 6 == 2) 2 else 1)).sum
      assert(meta.n_objects == expObjs, s"n_objects at id=$id")
      assert(meta.encrypted == (id % 11 == 7), s"encrypted at id=$id")

      val pages = Pdf.pagesOf(id, b)
      if (id % 11 == 7) assert(pages.isEmpty, s"encrypted doc must extract nothing, id=$id")
      else {
        assert(pages.length == nPages(id), s"page count at id=$id")
        pages.zipWithIndex.foreach { case (pg, p) =>
          assert(pg.page_idx == p, s"page order at id=$id")
          assert(pg.n_shows == nLines(id, p), s"n_shows at id=$id p=$p")
          assert(pg.text == pageText(id, p), s"text at id=$id p=$p")
        }
      }
    }
  }

  test("layout knobs are invisible to extraction (pairwise diffs)") {
    // same lines, one knob toggled at a time — text must be identical
    val ls = (p: Int) => Seq(s"alpha $p (x)", s"beta $p \\ y", s"gamma $p")
    def mk(flate: Boolean, two: Boolean, indirect: Boolean, ooo: Boolean,
        nested: Boolean, octal: Boolean, arr: Boolean) =
      Pdf.pagesOf(5L, Pdf.syntheticPdf("1.6", ls, 2, 1, octal,
        _ => flate, arr, _ => two, indirect, ooo, nested, encrypted = false))
        .map(_.text)
    val base = mk(false, false, false, false, false, false, false)
    assert(base.length == 2 && base.head.startsWith("alpha 0 (x)\nbeta"))
    assert(mk(true, false, false, false, false, false, false) == base, "flate")
    assert(mk(true, false, false, false, false, false, true) == base, "filter array")
    assert(mk(false, true, false, false, false, false, false) == base, "two streams")
    assert(mk(false, false, true, false, false, false, false) == base, "indirect length")
    assert(mk(false, false, false, true, false, false, false) == base, "out of order")
    assert(mk(false, false, false, false, true, false, false) == base, "nested tree")
    assert(mk(false, false, false, false, false, true, false) == base, "all-octal")
  }

  // ------------------------------------------------------------------
  // posture
  // ------------------------------------------------------------------

  test("corrupt input: prefix rule, never a throw") {
    val good = pdfBytes(3L)
    // truncations keep every object completed before the cut
    for (cut <- Seq(good.length / 4, good.length / 2, good.length - 30)) {
      val doc = Pdf.parsePdf(java.util.Arrays.copyOfRange(good, 0, cut))
      doc.foreach(d => assert(d.objects.nonEmpty))
    }
    assert(Pdf.parsePdf(Array[Byte](1, 2, 3)) == None)
    assert(Pdf.parsePdf("%PDF-1.4\nnot objects".getBytes) == None)
    assert(Pdf.pagesOf(0L, "%PDF-".getBytes) == Nil)
    // a /Length past EOF falls back to endstream-scan framing (the
    // tolerant-reader rule); the doc still has no page tree → no text
    val lying = ("%PDF-1.4\n1 0 obj << /Length 999 >> stream\nxx\nendstream endobj\n" +
      "trailer << /Root 1 0 R >>").getBytes("ISO-8859-1")
    assert(Pdf.pagesOf(0L, lying) == Nil)
  }

  test("unknown filters skip the page; empty /Contents extracts empty") {
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      "4 0 obj << /Length 6 /Filter /DCTDecode >> stream\nabcdef\nendstream endobj\n" +
      "5 0 obj << /Type /Page /Parent 2 0 R >> endobj\n" +
      "trailer << /Size 6 /Root 1 0 R >>\n%%EOF").getBytes("ISO-8859-1")
    val pages = Pdf.pagesOf(9L, pdf)
    // page 0 (unknown filter) skipped, page 1 (no contents) empty
    assert(pages.map(p => (p.page_idx, p.text)) == Seq((1, "")))
  }

  // ------------------------------------------------------------------
  // round 15: composite-font CMaps + simple-font /Differences
  // ------------------------------------------------------------------

  test("parseCmap: bfchar, both bfrange forms, codespace, surrogates") {
    val src = """1 begincodespacerange
      |<0000> <FFFF>
      |endcodespacerange
      |2 beginbfchar
      |<0001> <00E9>
      |<0003> <D83DDE00>
      |endbfchar
      |2 beginbfrange
      |<0041> <0043> <0061>
      |<0010> <0012> [<0391> <0392> <0393>]
      |endbfrange""".stripMargin.getBytes("ISO-8859-1")
    val (m, rs) = Pdf.parseCmap(src)
    assert(rs === Seq((2, 0L, 0xFFFFL)))
    assert(m(0x0001) === "é")
    assert(m(0x0003) === "😀") // surrogate pair survives UTF-16BE
    // string-destination bfrange: LAST BYTE increments across the span
    assert((0x41 to 0x43).map(m(_)) === Seq("a", "b", "c"))
    // array-destination bfrange: positional
    assert((0x10 to 0x12).map(m(_)) === Seq("Α", "Β", "Γ"))
    assert(!m.contains(0x0044) && !m.contains(0x0013))
  }

  test("composite font end-to-end: CMap decode, layout knobs invisible") {
    val ascii = "Hi (k=3)"
    val specials = Seq(0x0001, 0x0002, 0x0003, 0x0010, 0x0011, 0x0012, 0x0099)
    val simple = "a=7 \u0080 \u00A5!".getBytes("ISO-8859-1")
    val expected0 = ascii + "\n" + "é…😀ΑΒΓ�"
    val expected1 = "á=7 € •!"
    for (split <- Seq(false, true); flate <- Seq(false, true)) {
      val pdf = Pdf.syntheticCidPdf("1.6", ascii, specials, simple, split, flate)
      val pages = Pdf.pagesOf(1L, pdf)
      assert(pages.map(p => (p.page_idx, p.n_shows, p.text)) ===
        Seq((0, 2, expected0), (1, 1, expected1)),
        s"split=$split flate=$flate")
    }
  }

  // hand-built stream object with a correct /Length (exact framing —
  // a wrong declared length drops the stream by design)
  private def streamObjSrc(num: Int, ops: String): String =
    s"$num 0 obj << /Length ${ops.length} >> stream\n$ops\nendstream endobj\n"

  test("composite font WITHOUT /ToUnicode: U+FFFD per code, never raw bytes") {
    val pdf = ("%PDF-1.5\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> >> endobj\n" +
      streamObjSrc(4, "BT /F1 9 Tf <00410042> Tj ET") +
      "5 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H >> endobj\n" +
      "trailer << /Size 6 /Root 1 0 R >>\n%%EOF").getBytes("ISO-8859-1")
    val pages = Pdf.pagesOf(5L, pdf)
    assert(pages.map(_.text) === Seq("��"),
      "glyph ids without a carried mapping must not masquerade as text")
  }

  test("/Resources inherits from the /Parent chain") {
    val pdf = ("%PDF-1.5\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 " +
      "/Resources << /Font << /F9 5 0 R >> >> >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      streamObjSrc(4, "BT /F9 9 Tf (na\\257ve) Tj ET") +
      "5 0 obj << /Type /Font /Subtype /TrueType /Encoding " +
      "<< /Differences [ 175 /idieresis ] >> >> endobj\n" +
      "trailer << /Size 6 /Root 1 0 R >>\n%%EOF").getBytes("ISO-8859-1")
    val pages = Pdf.pagesOf(6L, pdf)
    assert(pages.map(_.text) === Seq("naïve"))
  }

  test("WinAnsiEncoding IS cp1252: the 0x80-0x9F typography range decodes") {
    // curly quotes 0x93/0x94, em dash 0x97, euro 0x80 — the bytes real
    // Word/LaTeX output shows constantly; Latin-1 would emit C1 controls
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> >> endobj\n" +
      streamObjSrc(4, "BT /F1 9 Tf (\\223q\\224 \\227 \\200) Tj ET") +
      "5 0 obj << /Type /Font /Subtype /Type1 /Encoding /WinAnsiEncoding >> endobj\n" +
      "trailer << /Size 6 /Root 1 0 R >>\n%%EOF").getBytes("ISO-8859-1")
    assert(Pdf.pagesOf(2L, pdf).map(_.text) === Seq("“q” — €"))
  }

  test("MacRomanEncoding: the Mac-era high range decodes; 0xDB stays /currency") {
    // 0x8E é, 0xA5 •, 0xD2/0xD3 curly quotes — Mac-authored PDFs (old
    // Quartz/LaTeX output) show these constantly; Latin-1 would emit Ž¥ÒÓ.
    // 0xDB pins the Annex-D deviation: /currency ¤, NOT the JVM's post-8.5 €
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> >> endobj\n" +
      streamObjSrc(4, "BT /F1 9 Tf (\\216 \\245 \\322q\\323 \\333) Tj ET") +
      "5 0 obj << /Type /Font /Subtype /Type1 /Encoding /MacRomanEncoding >> endobj\n" +
      "trailer << /Size 6 /Root 1 0 R >>\n%%EOF").getBytes("ISO-8859-1")
    assert(Pdf.pagesOf(3L, pdf).map(_.text) === Seq("é • “q” ¤"))
  }

  test("simple font: 1-byte /ToUnicode overlay wins over /Differences") {
    // Differences says 0x61 -> aacute; the CMap says 0x61 -> 'Z'. The
    // CMap is the author's own statement of the text, so it wins.
    val cmap = "1 beginbfchar\n<61> <005A>\nendbfchar"
    val pdf = ("%PDF-1.5\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> >> endobj\n" +
      streamObjSrc(4, "BT /F1 9 Tf (aba) Tj ET") +
      "5 0 obj << /Type /Font /Subtype /Type1 /ToUnicode 6 0 R /Encoding " +
      "<< /Differences [ 97 /aacute ] >> >> endobj\n" +
      streamObjSrc(6, cmap) +
      "trailer << /Size 7 /Root 1 0 R >>\n%%EOF").getBytes("ISO-8859-1")
    val pages = Pdf.pagesOf(7L, pdf)
    assert(pages.map(_.text) === Seq("ZbZ"))
  }

  test("glyphToUnicode: algorithmic forms and the degrade rule") {
    assert(Pdf.glyphToUnicode("uni20AC") === Some("€"))
    assert(Pdf.glyphToUnicode("uni00E90041") === Some("éA"))
    assert(Pdf.glyphToUnicode("u1F600") === Some("😀"))
    assert(Pdf.glyphToUnicode("A") === Some("A"))
    assert(Pdf.glyphToUnicode("bullet") === Some("•"))
    assert(Pdf.glyphToUnicode("g123456789") === None) // unknown: keep base
    assert(Pdf.glyphToUnicode("uniZZZZ") === None)
  }

  // ------------------------------------------------------------------
  // round 15: the wider filter family
  // ------------------------------------------------------------------

  test("filter hand vectors: spec-derived byte sequences") {
    def b(s: String) = s.getBytes("ISO-8859-1")
    // ASCIIHex: ws-transparent pairs, odd final digit pads low 0
    assert(Pdf.asciiHexDecode(b("48 65\n6C>")).map(_.toSeq) === Some(b("Hel").toSeq))
    assert(Pdf.asciiHexDecode(b("486>")).map(_.toSeq) === Some(Seq[Byte](0x48, 0x60)))
    assert(Pdf.asciiHexDecode(b("4G>")) === None)
    // ASCII85: '!'=digit 0 so "!!!!!" is the zero group; 'z' shorthand;
    // a 2-char final group pads with 'u' and keeps 1 byte — "5l" is
    // digits (20,75), padded value 0x41... so the kept byte is 'A'
    assert(Pdf.ascii85Decode(b("!!!!!"), 1 << 20).map(_.toSeq) === Some(Seq[Byte](0, 0, 0, 0)))
    assert(Pdf.ascii85Decode(b("z~>"), 1 << 20).map(_.toSeq) === Some(Seq[Byte](0, 0, 0, 0)))
    assert(Pdf.ascii85Decode(b("5l~>"), 1 << 20).map(_.toSeq) === Some(Seq[Byte](0x41)))
    assert(Pdf.ascii85Decode(b("!!!!!X~>"), 1 << 20) === None, "lone trailing char")
    assert(Pdf.ascii85Decode(b("v~>"), 1 << 20) === None, "out-of-range char")
    // RunLength: literal(L+1), repeat(257-L), EOD 128
    assert(Pdf.runLengthDecode(Array[Byte](2, 'a', 'b', 'c', 254.toByte, 'x', 128.toByte),
      1 << 20).map(new String(_, "ISO-8859-1")) === Some("abcxxx"))
    assert(Pdf.runLengthDecode(Array[Byte](5, 'a'), 1 << 20) === None, "truncated literal")
    // LZW: codes 65, 258(KwKwK), 65, 257 at 9 bits MSB-first = "AAAA"
    def lzw(b: Array[Byte]) = graft.serde.Lzw.decode(b, 0, b.length, earlyChange = true, 1 << 20)
    assert(lzw(Array[Byte](0x20, 0xC0.toByte, 0x88.toByte, 0x30, 0x10))
      .map(new String(_, "ISO-8859-1")) === Some("AAAA"))
    // a code past the table is malformed
    assert(lzw(Array[Byte](0x20, 0xE0.toByte, 0x40)) === None)
  }

  test("filter modes and chains are invisible to extraction") {
    // the repeated-run line makes RunLength's repeat branch load-bearing
    val lines = Seq("alpha (x)", "zzzzzzzzzz run", "gamma \\ end")
    val expected = lines.mkString("\n")
    for (mode <- 0 until 6) {
      val pdf = Pdf.syntheticFilterPdf("1.4", lines, mode)
      val pages = Pdf.pagesOf(3L, pdf)
      assert(pages.map(p => (p.n_shows, p.text)) === Seq((3, expected)), s"mode=$mode")
    }
    // a large lzw body crosses the 9->10 bit width boundary
    val big = (0 until 120).map(i => s"line $i word${i % 7} (k=${i % 13})")
    val pages = Pdf.pagesOf(4L, Pdf.syntheticFilterPdf("1.4", big, 3))
    assert(pages.map(_.text) === Seq(big.mkString("\n")))
  }

  test("a /Predictor in DecodeParms refuses rather than mis-decodes") {
    val content = "BT (x) Tj ET" // payload is never reached
    val pdf = ("%PDF-1.5\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${content.length} /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 12 /Columns 4 >> >> stream\n$content\nendstream endobj\n" +
      "trailer << /Size 5 /Root 1 0 R >>\n%%EOF").getBytes("ISO-8859-1")
    assert(Pdf.pagesOf(8L, pdf).isEmpty)
  }

  // ------------------------------------------------------------------
  // round 15: the modern layout — object streams + XRef-stream trailer
  // ------------------------------------------------------------------

  test("object streams: members expand, XRef dict is the trailer, flate knobs invisible") {
    val lines = Seq("alpha (x)", "beta \\ y", "gamma")
    for (fo <- Seq(false, true); fc <- Seq(false, true)) {
      val pdf = Pdf.syntheticObjStmPdf("1.7", lines, fo, fc)
      val meta = Pdf.metaOf(11L, pdf).getOrElse(fail(s"unparseable fo=$fo fc=$fc"))
      // 3 direct (ObjStm, content, xref) + 4 expanded members
      assert(meta.n_objects === 7 && meta.n_streams === 3 && meta.n_pages === 1)
      assert(!meta.encrypted)
      val pages = Pdf.pagesOf(11L, pdf)
      assert(pages.map(p => (p.page_idx, p.n_shows, p.text)) ===
        Seq((0, 3, "alpha (x)\nbeta \\ y\ngamma")), s"fo=$fo fc=$fc")
    }
  }

  test("object streams: a direct object wins a number conflict") {
    // the ObjStm carries catalog obj 2; a direct obj 2 pointing at a
    // DIFFERENT pages root must win (incremental updates write direct)
    val base = Pdf.syntheticObjStmPdf("1.6", Seq("one"), false, false)
    val update = ("\n2 0 obj << /Type /Catalog /Pages 99 0 R >> endobj\n" +
      "99 0 obj << /Type /Pages /Kids [] /Count 0 >> endobj\n")
      .getBytes("ISO-8859-1")
    val doc = Pdf.parsePdf(base ++ update).getOrElse(fail("update broke the walk"))
    assert(Pdf.pages(doc).isEmpty, "direct catalog (empty tree) must shadow the ObjStm one")
  }

  test("object streams: corrupt headers and offsets degrade, never throw") {
    val good = Pdf.syntheticObjStmPdf("1.5", Seq("ok"), false, false)
    // truncations anywhere keep whatever parsed
    for (cut <- Seq(20, good.length / 3, good.length / 2, good.length - 5))
      Pdf.parsePdf(java.util.Arrays.copyOfRange(good, 0, cut)) // no throw
    // an ObjStm whose /First points past the data yields no members but
    // the direct objects survive
    val lying = ("%PDF-1.5\n" +
      "1 0 obj << /Type /ObjStm /N 2 /First 9999 /Length 9 >> stream\n2 0 3 4 x\nendstream endobj\n" +
      "7 0 obj << /Type /XRef /Root 2 0 R /Length 4 >> stream\nabcd\nendstream endobj\n" +
      "startxref\n9\n%%EOF").getBytes("ISO-8859-1")
    val doc = Pdf.parsePdf(lying)
    assert(doc.isDefined && doc.get.objects.contains(1) && !doc.get.objects.contains(2))
    assert(doc.get.trailer.get("Root").isDefined, "XRef dict still adopted")
  }

  test("incremental XRef streams: the LATER stream's keys override the earlier") {
    // base XRef (obj 7) roots the OLD catalog; the incremental update
    // appends a new page tree under new object numbers and its own
    // XRef (obj 16) rooting the NEW catalog — the update must win
    // (regression: first-XRef-wins silently kept the stale /Root)
    val pdf = ("%PDF-1.5\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      streamObjSrc(4, "BT (old) Tj ET") +
      "7 0 obj << /Type /XRef /Size 8 /Root 1 0 R /Length 1 >> stream\nX\nendstream endobj\n" +
      "12 0 obj << /Type /Catalog /Pages 13 0 R >> endobj\n" +
      "13 0 obj << /Type /Pages /Kids [14 0 R] /Count 1 >> endobj\n" +
      "14 0 obj << /Type /Page /Parent 13 0 R /Contents 15 0 R >> endobj\n" +
      streamObjSrc(15, "BT (new) Tj ET") +
      "16 0 obj << /Type /XRef /Size 17 /Root 12 0 R /Length 1 >> stream\nX\nendstream endobj\n" +
      "%%EOF").getBytes("ISO-8859-1")
    assert(Pdf.pagesOf(1L, pdf).map(_.text) === Seq("new"))
    // and the explicit keyword trailer still outranks every XRef dict
    val withTrailer = (new String(pdf, "ISO-8859-1")
      .replace("%%EOF", "trailer << /Root 1 0 R >>\n%%EOF")).getBytes("ISO-8859-1")
    assert(Pdf.pagesOf(1L, withTrailer).map(_.text) === Seq("old"))
  }

  test("incremental update: a second trailer's keys override") {
    val base = new String(pdfBytes(1L), "ISO-8859-1")
    val updated = (base +
      "\n99 0 obj << /X 1 >> endobj\ntrailer << /Info 99 0 R >>\n%%EOF\n")
      .getBytes("ISO-8859-1")
    val doc = Pdf.parsePdf(updated).getOrElse(fail("update section broke the walk"))
    assert(doc.trailer.get("Root").isDefined, "first trailer's /Root survives")
    assert(doc.trailer.get("Info").isDefined, "second trailer's keys merge")
    assert(doc.objects.contains(99))
  }
}
