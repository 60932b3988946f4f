package graft.llm

import org.apache.spark.sql.Dataset

import graft.llm.Multimodal.Media

/** Office/eBook document ingestion (round 13): DOCX and EPUB — the
  * formats book and report corpora actually arrive in. Both are ZIP
  * containers ([[Archives.parseZip]], the engine's own central-
  * directory walk over JDK-written fixtures) holding XML, so the whole
  * layer is STRUCTURAL in the decision-record sense: container offsets
  * frame the parts, XML elements frame the text, and a mistake
  * degrades to a missing part or a None, never a silently wrong value.
  *
  * DOCX: text lives EXCLUSIVELY in `<w:t>` runs inside `<w:p>`
  * paragraphs of word/document.xml (WordprocessingML, ECMA-376) — a
  * naive whole-file tag strip would also keep field instructions and
  * deleted-revision text, which is why the walk is element-targeted.
  * Runs concatenate with NO separator (a word is routinely split
  * across runs at formatting boundaries), `<w:tab/>` is a literal tab,
  * `<w:br/>` a line break, paragraphs join with \n.
  *
  * EPUB: the reading order is NOT the archive order — it is the OPF
  * spine (OCF/OPF, ISO 22384): META-INF/container.xml names the OPF
  * via `full-path`, the OPF's manifest maps ids to hrefs, and the
  * spine's `<itemref idref>` sequence orders them. Chapters are XHTML
  * and ride [[Warc.htmlText]]. When the OPF chain is missing or
  * corrupt the walk falls back to archive-order .xhtml/.html parts
  * (documented tolerant-reader fallback).
  *
  * Reference scope: kafi reads no document formats; this layer is part
  * of the LLM-pipeline extension, sibling to [[Pdf]] and [[Warc]].
  */
object Docs {

  /** One extracted document part: for DOCX a single part (the main
    * document); for EPUB one spine chapter, `part` = its resolved
    * href, `part_idx` = spine position. */
  case class DocPart(doc_id: Long, part_idx: Int, part: String, text: String)

  // ------------------------------------------------------------------
  // XML helpers (attribute pull + entity decode — the five XML
  // predefined entities plus numeric forms; unknown entities pass
  // through verbatim, the tolerant-reader rule)
  // ------------------------------------------------------------------

  private val ReEntity = java.util.regex.Pattern.compile("&(#x?[0-9a-fA-F]+|[a-zA-Z]+);")
  private val xmlEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'")

  private[graft] def xmlUnescape(s: String): String = {
    val m = ReEntity.matcher(s)
    if (!m.find()) return s
    val sb = new java.lang.StringBuilder
    var last = 0
    do {
      sb.append(s, last, m.start())
      val e = m.group(1)
      val rep =
        if (e.startsWith("#x") || e.startsWith("#X"))
          try {
            val cp = Integer.parseInt(e.substring(2), 16)
            if (Character.isValidCodePoint(cp)) new String(Character.toChars(cp)) else m.group()
          } catch { case _: NumberFormatException => m.group() }
        else if (e.startsWith("#"))
          e.substring(1).toIntOption.filter(Character.isValidCodePoint(_))
            .map(cp => new String(Character.toChars(cp))).getOrElse(m.group())
        else xmlEntities.getOrElse(e, m.group())
      sb.append(rep)
      last = m.end()
    } while (m.find())
    sb.append(s, last, s.length)
    sb.toString
  }

  /** First `attr="…"` value inside `elem`'s opening tags, scanning all
    * occurrences of the element (single or double quotes). */
  private def attrOf(xml: String, elem: String, attr: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile(s"""<$elem\\b[^>]*?\\s$attr\\s*=\\s*["']([^"']*)["']""",
        java.util.regex.Pattern.DOTALL)
      .matcher(xml)
    if (m.find()) Some(xmlUnescape(m.group(1))) else None
  }

  // ------------------------------------------------------------------
  // DOCX
  // ------------------------------------------------------------------

  private val RePara = java.util.regex.Pattern.compile(
    "<w:p[\\s>].*?</w:p>|<w:p/>", java.util.regex.Pattern.DOTALL)
  private val ReRun = java.util.regex.Pattern.compile(
    "<w:t(?:\\s[^>]*)?>(.*?)</w:t>|<w:t(?:\\s[^>]*)?/>|<w:tab(?:\\s[^>]*)?/>|<w:br(?:\\s[^>]*)?/>",
    java.util.regex.Pattern.DOTALL)

  /** WordprocessingML → text: per `<w:p>` paragraph, `<w:t>` runs
    * concatenated as-is (xml:space handling is the writer's concern —
    * the content between the tags is the content), `<w:tab/>` → \t,
    * `<w:br/>` → \n; paragraphs join with \n. Total function. */
  private[graft] def wordXmlText(xml: String): String = {
    if (xml == null) return ""
    val paras = Seq.newBuilder[String]
    val pm = RePara.matcher(xml)
    while (pm.find()) {
      val p = pm.group()
      val sb = new java.lang.StringBuilder
      val rm = ReRun.matcher(p)
      while (rm.find()) {
        val tok = rm.group()
        if (tok.startsWith("<w:tab")) sb.append('\t')
        else if (tok.startsWith("<w:br")) sb.append('\n')
        else if (rm.group(1) != null) sb.append(xmlUnescape(rm.group(1)))
      }
      paras += sb.toString
    }
    paras.result().mkString("\n")
  }

  /** DOCX → main-document text: zip walk → word/document.xml →
    * [[wordXmlText]]. None when the container or the part is
    * missing/undecodable. */
  private[graft] def docxText(zip: Array[Byte]): Option[String] =
    Archives.parseZip(zip)
      .find(e => e.name == "word/document.xml" && e.content != null)
      .map(e => wordXmlText(e.content))

  // ------------------------------------------------------------------
  // ODT (OpenDocument text — the LibreOffice/OpenOffice half of the
  // office corpus; same zip-of-XML shape as DOCX but the OPPOSITE text
  // model: character data sits directly in <text:p>/<text:h> and in
  // arbitrarily nested spans, so the walk KEEPS nested element text
  // instead of targeting one leaf element)
  // ------------------------------------------------------------------

  private val ReOdtPara = java.util.regex.Pattern.compile(
    "<text:(p|h)[\\s>].*?</text:\\1>|<text:(?:p|h)/>",
    java.util.regex.Pattern.DOTALL)
  private val ReOdtSpace = java.util.regex.Pattern.compile(
    "<text:s(?:\\s+text:c\\s*=\\s*\"(\\d{1,4})\")?[^>]*/>")
  private val ReAnyTag = java.util.regex.Pattern.compile("<[^>]*>")

  /** OpenDocument content.xml → text: per text:p/text:h paragraph,
    * `<text:tab/>` → \t, `<text:line-break/>` → \n, `<text:s
    * text:c="n"/>` → n spaces (ODF collapses literal runs of spaces —
    * the element IS the whitespace), all other nested markup stripped
    * keeping its character data, entities decoded; paragraphs join
    * with \n. */
  private[graft] def odtXmlText(xml: String): String = {
    if (xml == null) return ""
    val paras = Seq.newBuilder[String]
    val pm = ReOdtPara.matcher(xml)
    while (pm.find()) {
      var p = pm.group()
      p = p.replaceAll("<text:tab[^>]*/>", "\t")
        .replaceAll("<text:line-break[^>]*/>", "\n")
      val sm = ReOdtSpace.matcher(p)
      val sb = new java.lang.StringBuilder
      var last = 0
      while (sm.find()) {
        sb.append(p, last, sm.start())
        val n = Option(sm.group(1)).flatMap(_.toIntOption).getOrElse(1)
        var i = 0
        while (i < n) { sb.append(' '); i += 1 }
        last = sm.end()
      }
      sb.append(p, last, p.length)
      paras += xmlUnescape(ReAnyTag.matcher(sb.toString).replaceAll(""))
    }
    paras.result().mkString("\n")
  }

  /** ODT → text: zip walk → content.xml → [[odtXmlText]]. */
  private[graft] def odtText(zip: Array[Byte]): Option[String] =
    Archives.parseZip(zip)
      .find(e => e.name == "content.xml" && e.content != null)
      .map(e => odtXmlText(e.content))

  /** ODT feed → one text row per readable document (flatMap kernel). */
  def odtTexts(ds: Dataset[Media]): Dataset[DocPart] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap(m =>
      odtText(m.media).map(t => DocPart(m.doc_id, 0, "content.xml", t))))
  }

  /** DOCX feed → one text row per readable document (flatMap kernel). */
  def docxTexts(ds: Dataset[Media]): Dataset[DocPart] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap(m =>
      docxText(m.media).map(t => DocPart(m.doc_id, 0, "word/document.xml", t))))
  }

  // ------------------------------------------------------------------
  // EPUB
  // ------------------------------------------------------------------

  private def dirOf(path: String): String = {
    val i = path.lastIndexOf('/')
    if (i < 0) "" else path.substring(0, i + 1)
  }

  /** Spine-ordered (href, xhtml) chapters. The OPF chain — container
    * full-path → manifest id→href → spine idref order — is the reading
    * order; hrefs resolve against the OPF's directory. Falls back to
    * archive-order .xhtml/.html entries when the chain is broken. */
  private[graft] def epubChapters(zip: Array[Byte]): Seq[(String, String)] = {
    val entries = Archives.parseZip(zip)
    if (entries.isEmpty) return Nil
    val byName = entries.iterator.filter(_.content != null).map(e => e.name -> e.content).toMap
    val spineOrder: Option[Seq[String]] = for {
      container <- byName.get("META-INF/container.xml")
      opfPath <- attrOf(container, "rootfile", "full-path")
      opf <- byName.get(opfPath)
    } yield {
      val base = dirOf(opfPath)
      // manifest: id → href
      val items = scala.collection.mutable.Map.empty[String, String]
      val im = java.util.regex.Pattern.compile("<item\\b[^>]*>").matcher(opf)
      while (im.find()) {
        val tag = im.group()
        (attrOf(tag, "item", "id"), attrOf(tag, "item", "href")) match {
          case (Some(id), Some(href)) => items(id) = base + href
          case _ => ()
        }
      }
      val order = Seq.newBuilder[String]
      val sm = java.util.regex.Pattern.compile("<itemref\\b[^>]*>").matcher(opf)
      while (sm.find()) {
        attrOf(sm.group(), "itemref", "idref").flatMap(items.get).foreach(order += _)
      }
      order.result()
    }
    spineOrder match {
      case Some(hrefs) if hrefs.nonEmpty =>
        hrefs.flatMap(h => byName.get(h).map(h -> _))
      case _ =>
        entries.filter(e => e.content != null &&
            (e.name.endsWith(".xhtml") || e.name.endsWith(".html") || e.name.endsWith(".htm")))
          .map(e => e.name -> e.content)
    }
  }

  /** EPUB feed → one row per spine chapter, text via the HTML
    * extractor (flatMap kernel; chapter bytes never shuffle). */
  def epubTexts(ds: Dataset[Media]): Dataset[DocPart] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap { m =>
      epubChapters(m.media).zipWithIndex.map { case ((href, xhtml), i) =>
        DocPart(m.doc_id, i, href, Warc.htmlText(xhtml))
      }
    })
  }

  // ------------------------------------------------------------------
  // Format router: the first mile of a HETEROGENEOUS corpus — blobs
  // arrive untyped, and the admission step is magic-byte detection
  // routing each to its extractor. One flatMap kernel: detect +
  // extract happen in the scan task, only (id, format, text) flows on.
  // ------------------------------------------------------------------

  /** Magic-byte format detection. ZIP containers are disambiguated by
    * their entries (OCF mimetype / word/document.xml); gzip peels one
    * layer and recurses (bounded); LaTeX and mbox are text formats
    * with canonical openings; HTML by its root tags. "unknown"
    * otherwise — at scrape scale unknown is NORMAL, not an error. */
  private[graft] def detectFormat(b: Array[Byte], depth: Int = 0): String = {
    if (b == null || b.length < 4) return "unknown"
    if (b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F') return "pdf"
    if (b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4) {
      val entries = Archives.parseZip(b)
      // the OCF/ODF mimetype entry's CONTENT is the discriminator —
      // both families carry one, so its presence alone decides nothing
      val mime = entries.find(_.name == "mimetype")
        .flatMap(e => Option(e.content)).map(_.trim).getOrElse("")
      val names = entries.map(_.name).toSet
      return if (mime.startsWith("application/epub") ||
        names.contains("META-INF/container.xml")) "epub"
      else if (mime.startsWith("application/vnd.oasis.opendocument")) "odt"
      else if (names.contains("word/document.xml")) "docx"
      else if (names.contains("content.xml")) "odt"
      else "zip"
    }
    if ((b(0) & 0xFF) == 0x1F && (b(1) & 0xFF) == 0x8B && depth == 0)
      return graft.serde.Zlib.gunzipAll(b).map(detectFormat(_, 1)).getOrElse("unknown")
    val head = new String(b, 0, math.min(b.length, 512),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val t = head.dropWhile(c => c == ' ' || c == '\t' || c == '\n' || c == '\r')
    if (t.startsWith("{\\rtf")) "rtf"
    else if (t.startsWith("WARC/")) "warc"
    else if (t.startsWith("From ")) "mbox"
    else if (t.startsWith("\\documentclass") || t.startsWith("\\begin{document}")) "latex"
    else {
      val tl = t.toLowerCase
      if (tl.startsWith("<!doctype html") || tl.startsWith("<html")) "html"
      else "unknown"
    }
  }

  /** Detect + extract, one blob → at most one (format, text) row.
    * Formats compose the engine's own kernels; unknown blobs emit
    * nothing. (The .ipynb path stays on [[Notebooks]]' declarative
    * from_json plan — JSON is not a byte-magic format.) */
  private[graft] def extractAny(b0: Array[Byte]): Option[(String, String)] = {
    val gz = b0 != null && b0.length > 2 && (b0(0) & 0xFF) == 0x1F && (b0(1) & 0xFF) == 0x8B
    val b = if (gz) graft.serde.Zlib.gunzipAll(b0).getOrElse(return None) else b0
    detectFormat(b) match {
      case "pdf" => Some(("pdf", Pdf.pagesOf(0L, b).map(_.text).mkString("\n")))
      case "docx" => docxText(b).map(("docx", _))
      case "odt" => odtText(b).map(("odt", _))
      case "epub" =>
        Some(("epub", epubChapters(b).map { case (_, x) => Warc.htmlText(x) }.mkString("\n")))
      case "mbox" =>
        Some(("mbox", Mail.parseMbox(b)
          .flatMap(Mail.parseMessage(_).map(_._3)).mkString("\n")))
      case "warc" =>
        Some(("warc", Warc.parseWarc(b)
          .filter(r => r.warc_type == "response" && r.http_status == 200)
          .map(r => Warc.htmlText(r.payload)).mkString("\n")))
      case "latex" =>
        Some(("latex", Latex.latexText(new String(b, java.nio.charset.StandardCharsets.UTF_8))))
      case "rtf" =>
        Some(("rtf", Rtf.rtfText(new String(b, java.nio.charset.StandardCharsets.ISO_8859_1))))
      case "html" =>
        Some(("html", Warc.htmlText(new String(b, java.nio.charset.StandardCharsets.UTF_8))))
      case _ => None
    }
  }

  /** Untyped blob feed → (doc_id, format, text), a pure flatMap
    * kernel — the heterogeneous corpus's unified text entry point. */
  def routedTexts(ds: Dataset[Media]): Dataset[(Long, String, String)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap(m =>
      extractAny(m.media).map { case (f, t) => (m.doc_id, f, t) }))
  }

  // ------------------------------------------------------------------
  // Fixture writers (JDK ZipOutputStream container, real OPF chain)
  // ------------------------------------------------------------------

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** A well-formed DOCX: [Content_Types].xml + _rels/.rels +
    * word/document.xml. Each paragraph is a Seq of run texts; inside a
    * run, \t and \n are encoded as `<w:tab/>`/`<w:br/>` elements (the
    * extractor must map them back), everything else as escaped
    * character data. `storedParts` switches the zip method. */
  def syntheticDocx(paragraphs: Seq[Seq[String]], storedParts: Boolean): Array[Byte] = {
    val body = new java.lang.StringBuilder
    paragraphs.foreach { runs =>
      body.append("<w:p><w:pPr><w:jc w:val=\"left\"/></w:pPr>")
      runs.foreach { r =>
        body.append("<w:r><w:rPr><w:b/></w:rPr>")
        var buf = new java.lang.StringBuilder
        def flush(): Unit = {
          if (buf.length > 0) {
            body.append("<w:t xml:space=\"preserve\">")
              .append(xmlEscape(buf.toString)).append("</w:t>")
            buf = new java.lang.StringBuilder
          }
        }
        r.foreach {
          case '\t' => flush(); body.append("<w:tab/>")
          case '\n' => flush(); body.append("<w:br/>")
          case c => buf.append(c)
        }
        flush()
        body.append("</w:r>")
      }
      body.append("</w:p>")
    }
    val doc =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
        s"<w:body>${body.toString}<w:sectPr/></w:body></w:document>"
    val types =
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/></Types>"""
    val rels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/></Relationships>"""
    Archives.syntheticZip(Seq(
      ("[Content_Types].xml", types.getBytes("UTF-8"), storedParts),
      ("_rels/.rels", rels.getBytes("UTF-8"), storedParts),
      ("word/document.xml", doc.getBytes("UTF-8"), storedParts)))
  }

  /** A well-formed ODT: stored `mimetype` first (the ODF rule), a
    * manifest, and content.xml. Each paragraph is a Seq of span texts
    * nested one level deep (the walk must keep nested character
    * data); inside a span, \t and \n become `<text:tab/>`/
    * `<text:line-break/>`, and every run of k ≥ 2 spaces becomes one
    * literal space + `<text:s text:c="k-1"/>` (the ODF whitespace
    * model — extraction must reconstruct exactly k). */
  def syntheticOdt(paragraphs: Seq[Seq[String]]): Array[Byte] = {
    def encodeRun(r: String): String = {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < r.length) {
        val c = r.charAt(i)
        if (c == ' ') {
          var k = 0
          while (i + k < r.length && r.charAt(i + k) == ' ') k += 1
          if (k >= 2) sb.append(' ').append(s"""<text:s text:c="${k - 1}"/>""")
          else sb.append(' ')
          i += k
        } else {
          c match {
            case '\t' => sb.append("<text:tab/>")
            case '\n' => sb.append("<text:line-break/>")
            case _ => sb.append(xmlEscape(c.toString))
          }
          i += 1
        }
      }
      sb.toString
    }
    val body = paragraphs.map { runs =>
      "<text:p text:style-name=\"P1\">" +
        runs.map(r => s"""<text:span text:style-name="T1">${encodeRun(r)}</text:span>""").mkString +
        "</text:p>"
    }.mkString
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        """<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" """ +
        """xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" office:version="1.2">""" +
        s"<office:body><office:text>$body</office:text></office:body></office:document-content>"
    val manifest =
      """<?xml version="1.0"?><manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0">""" +
        """<manifest:file-entry manifest:full-path="/" manifest:media-type="application/vnd.oasis.opendocument.text"/>""" +
        """<manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/></manifest:manifest>"""
    Archives.syntheticZip(Seq(
      ("mimetype", "application/vnd.oasis.opendocument.text".getBytes("UTF-8"), true),
      ("META-INF/manifest.xml", manifest.getBytes("UTF-8"), false),
      ("content.xml", content.getBytes("UTF-8"), false)))
  }

  /** A well-formed EPUB: stored `mimetype` first (the OCF rule),
    * container.xml → OEBPS/content.opf, chapters as (href, html-body)
    * written in ARCHIVE order but spined in `spine` order — a reader
    * that walks the archive instead of the spine misorders exactly
    * there. `decoyHref` adds an .xhtml file that is in the archive but
    * NOT in the spine (must not be emitted). */
  def syntheticEpub(chapters: Seq[(String, String)], spine: Seq[Int],
      decoyHref: Option[String]): Array[Byte] = {
    require(spine.sorted == chapters.indices, "spine must permute the chapters")
    val manifest = chapters.zipWithIndex.map { case ((href, _), i) =>
      s"""<item id="c$i" href="$href" media-type="application/xhtml+xml"/>"""
    }.mkString
    val spineXml = spine.map(i => s"""<itemref idref="c$i"/>""").mkString
    val opf =
      """<?xml version="1.0"?><package xmlns="http://www.idpf.org/2007/opf" version="3.0">""" +
        s"""<metadata><dc:title xmlns:dc="http://purl.org/dc/elements/1.1/">t</dc:title></metadata>""" +
        s"""<manifest>$manifest</manifest><spine>$spineXml</spine></package>"""
    val container =
      """<?xml version="1.0"?><container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">""" +
        """<rootfiles><rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/></rootfiles></container>"""
    val parts = Seq.newBuilder[(String, Array[Byte], Boolean)]
    parts += (("mimetype", "application/epub+zip".getBytes("UTF-8"), true))
    parts += (("META-INF/container.xml", container.getBytes("UTF-8"), false))
    parts += (("OEBPS/content.opf", opf.getBytes("UTF-8"), false))
    chapters.foreach { case (href, body) =>
      parts += ((s"OEBPS/$href", body.getBytes("UTF-8"), false))
    }
    decoyHref.foreach { h =>
      parts += ((s"OEBPS/$h",
        "<html><body>decoy not in spine</body></html>".getBytes("UTF-8"), false))
    }
    Archives.syntheticZip(parts.result())
  }
}
