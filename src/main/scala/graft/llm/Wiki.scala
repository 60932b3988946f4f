package graft.llm

import org.apache.spark.sql.Dataset

import graft.llm.Multimodal.Media

/** MediaWiki dump ingestion + wikitext extraction (round 13): the
  * encyclopedia corpus. Wikipedia publishes its full content as XML
  * dumps (the export-0.10 schema) compressed as bzip2 — the large
  * dumps in the MULTISTREAM layout, where many independent bz2
  * streams are concatenated so an index can seek to a stream start.
  * Whole-stream readers (this one) just decompress across stream
  * boundaries; `commons-compress`'s concatenated mode (shipped in
  * Spark's own jars) does exactly that, the same shape as the
  * per-record gzip members in [[Warc]].
  *
  * Both layers fit the COVERAGE.md round-13 decision record's
  * STRUCTURAL bar: the XML walk is framing only (elements + entity
  * decode, no normative lookup data), and wikitext-to-text is pure
  * syntax (brace/bracket matching + markup regexes) where a mistake
  * degrades to a dropped or extra fragment, never a silently wrong
  * value from a mistranscribed table.
  *
  * Scale shape: one dump blob in, N pages out — a pure flatMap kernel
  * (PlanSpec-asserted no-Exchange); page bytes never shuffle until the
  * caller keys on something. A real 100 TB ingest points the SAME
  * kernel at the per-stream slices the multistream index defines, so
  * one 20 GB dump file becomes thousands of independently-decodable
  * tasks; nothing in the walk assumes it saw the `<mediawiki>` root.
  *
  * Reference scope: kafi has no dump reader; its closest surface is the
  * opaque file walk (kafi/fs/fs_reader.py). LLM-pipeline extension
  * breadth, sibling to [[Warc]]/[[Feeds]].
  */
object Wiki {

  /** One `<page>`: `redirect` is the target title or "" (the dump's
    * `<redirect title=…/>` is presence-only on non-redirects), `text`
    * the entity-decoded wikitext of the (single, in dumps) revision. */
  case class WikiPage(doc_id: Long, page_idx: Int, title: String, ns: Int,
      page_id: Long, redirect: String, timestamp: String, text: String)

  /** Multi-stream bunzip2 with the same bomb guard as
    * [[graft.serde.Zlib.gunzipAll]]. None on any stream error or `max` overflow. */
  private[graft] def bunzipAll(b: Array[Byte], max: Int = 1 << 26): Option[Array[Byte]] = {
    try {
      val in = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(
        new java.io.ByteArrayInputStream(b), /* decompressConcatenated = */ true)
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

  private val RePage = java.util.regex.Pattern.compile(
    "<page>(.*?)</page>", java.util.regex.Pattern.DOTALL)
  private val ReTitle = java.util.regex.Pattern.compile(
    "<title>(.*?)</title>", java.util.regex.Pattern.DOTALL)
  private val ReNs = java.util.regex.Pattern.compile("<ns>\\s*(-?\\d+)\\s*</ns>")
  private val ReId = java.util.regex.Pattern.compile("<id>\\s*(\\d+)\\s*</id>")
  private val ReRedirect = java.util.regex.Pattern.compile(
    "<redirect\\b[^>]*\\btitle\\s*=\\s*\"([^\"]*)\"")
  private val ReTimestamp = java.util.regex.Pattern.compile(
    "<timestamp>(.*?)</timestamp>", java.util.regex.Pattern.DOTALL)
  private val ReText = java.util.regex.Pattern.compile(
    "<text\\b[^>]*(/>|>(.*?)</text>)", java.util.regex.Pattern.DOTALL)

  private def firstGroup(p: java.util.regex.Pattern, s: String, g: Int = 1): Option[String] = {
    val m = p.matcher(s)
    if (m.find()) Option(m.group(g)) else None
  }

  /** Dump walk → pages. Accepts plain, gzip (member-concatenated), or
    * bzip2 (multistream) bytes. The page `<id>` is the FIRST `<id>` in
    * the element — the schema puts it before `<revision>`, whose own
    * `<id>` would otherwise shadow it. Pages missing title or id are
    * skipped (corrupt-input posture: keep what parses, never throw). */
  private[graft] def parseDump(raw: Array[Byte]): Seq[WikiPage] = {
    if (raw == null || raw.length < 4) return Nil
    try {
      val b =
        if ((raw(0) & 0xFF) == 0x1F && (raw(1) & 0xFF) == 0x8B)
          graft.serde.Zlib.gunzipAll(raw).getOrElse(return Nil)
        else if (raw(0) == 'B' && raw(1) == 'Z' && raw(2) == 'h')
          bunzipAll(raw).getOrElse(return Nil)
        else raw
      val xml = new String(b, java.nio.charset.StandardCharsets.UTF_8)
      val out = Seq.newBuilder[WikiPage]
      val m = RePage.matcher(xml)
      var idx = 0
      while (m.find()) {
        val page = m.group(1)
        val headEnd = { val r = page.indexOf("<revision"); if (r < 0) page.length else r }
        val head = page.substring(0, headEnd)
        (firstGroup(ReTitle, head), firstGroup(ReId, head)) match {
          case (Some(t), Some(idStr)) =>
            val rev = if (headEnd < page.length) page.substring(headEnd) else ""
            val text = firstGroup(ReText, rev, 2).map(Docs.xmlUnescape).getOrElse("")
            out += WikiPage(-1L, idx,
              Docs.xmlUnescape(t),
              firstGroup(ReNs, head).flatMap(_.toIntOption).getOrElse(0),
              idStr.toLong,
              firstGroup(ReRedirect, head).map(Docs.xmlUnescape).getOrElse(""),
              firstGroup(ReTimestamp, rev).getOrElse(""),
              text)
            idx += 1
          case _ => // structural violation inside one page: skip it, keep walking
        }
      }
      out.result()
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** Dump blobs → page rows, a pure flatMap kernel. */
  def wikiPages(ds: Dataset[Media]): Dataset[WikiPage] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap { m =>
      parseDump(m.media).map(p => p.copy(doc_id = m.doc_id))
    })
  }

  // ------------------------------------------------------------------
  // Wikitext → plain text
  // ------------------------------------------------------------------

  /** Remove nested `open`…`close` regions (two-char delimiters, e.g.
    * templates or tables). Unbalanced opens drop the remainder of the
    * string — degrade, never throw. */
  private def stripNested(s: String, o1: Char, o2: Char, c1: Char, c2: Char): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var depth = 0
    val n = s.length
    while (i < n) {
      if (i + 1 < n && s.charAt(i) == o1 && s.charAt(i + 1) == o2) { depth += 1; i += 2 }
      else if (i + 1 < n && depth > 0 && s.charAt(i) == c1 && s.charAt(i + 1) == c2) { depth -= 1; i += 2 }
      else { if (depth == 0) sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private val dropPrefixes = Seq("file:", "image:", "category:")

  /** One pass over `[[…]]` links: File/Image/Category links (whose
    * captions may nest further links) drop whole; others become their
    * label — everything after the FIRST top-level `|`, matching
    * MediaWiki's rendering of a multi-pipe `[[a|b|c]]` as `b|c` for
    * non-file links — or the target when there is no pipe. Returns the
    * rewritten string; caller loops while it changes (nested labels). */
  private def linkPass(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      if (i + 1 < n && s.charAt(i) == '[' && s.charAt(i + 1) == '[') {
        // find matching ]] with nesting; track the first TOP-LEVEL pipe
        var j = i + 2
        var depth = 1
        var firstPipe = -1
        while (j + 1 < n && depth > 0) {
          if (s.charAt(j) == '[' && s.charAt(j + 1) == '[') { depth += 1; j += 2 }
          else if (s.charAt(j) == ']' && s.charAt(j + 1) == ']') { depth -= 1; if (depth > 0) j += 2 }
          else {
            if (depth == 1 && s.charAt(j) == '|' && firstPipe < 0) firstPipe = j
            j += 1
          }
        }
        if (depth != 0) { sb.append(s.charAt(i)); i += 1 } // unbalanced: emit literally
        else {
          val inner = s.substring(i + 2, j)
          val target = (if (firstPipe >= 0) s.substring(i + 2, firstPipe) else inner).trim
          val lowered = target.toLowerCase
          if (!dropPrefixes.exists(lowered.startsWith))
            sb.append(if (firstPipe >= 0) s.substring(firstPipe + 1, j) else inner)
          i = j + 2
        }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private val ReComment = java.util.regex.Pattern.compile("<!--.*?-->",
    java.util.regex.Pattern.DOTALL)
  private val ReRef = java.util.regex.Pattern.compile(
    "<ref\\b[^>]*?(/>|>.*?</ref\\s*>)",
    java.util.regex.Pattern.DOTALL | java.util.regex.Pattern.CASE_INSENSITIVE)
  private val ReExtLink = java.util.regex.Pattern.compile(
    "\\[(?:https?|ftp)://[^\\s\\]]*(?:\\s+([^\\]]*))?\\]")
  private val ReHeading = java.util.regex.Pattern.compile(
    "(?m)^={1,6}\\s*(.*?)\\s*=+\\s*$")
  private val ReQuotes = java.util.regex.Pattern.compile("'{2,5}")
  private val ReListMark = java.util.regex.Pattern.compile("(?m)^[*#;:]+\\s*")
  private val ReHr = java.util.regex.Pattern.compile("(?m)^-{4,}\\s*$")

  /** Wikitext → plain text. Pass order is load-bearing and documented
    * where it matters:
    *  1. comments (may hide unbalanced braces/brackets),
    *  2. `<ref>` elements (citation bodies are not corpus text),
    *  3. tables `{|…|}` then templates `{{…}}` (both nested walks),
    *  4. `[[…]]` links, looped while the string changes (a label
    *     revealed by one pass can itself contain links),
    *  5. external `[url label]` → label, bare `[url]` → removed,
    *  6. headings keep their inner text; bold/italic quote runs and
    *     line-start list markers and `----` rules drop,
    *  7. [[Warc.htmlText]] for the residue: remaining tags → space,
    *     entity decode, whitespace collapse.
    * Total and deterministic: any string in, text out. */
  private[graft] def wikitextToText(src: String): String = {
    if (src == null) return ""
    var s = ReComment.matcher(src).replaceAll(" ")
    s = ReRef.matcher(s).replaceAll(" ")
    s = stripNested(s, '{', '|', '|', '}')
    s = stripNested(s, '{', '{', '}', '}')
    var rounds = 0
    var changed = true
    while (changed && rounds < 4) {
      val nxt = linkPass(s); changed = nxt != s; s = nxt; rounds += 1
    }
    s = {
      val m = ReExtLink.matcher(s)
      val sb = new java.lang.StringBuilder
      var last = 0
      while (m.find()) {
        sb.append(s, last, m.start())
        if (m.group(1) != null) sb.append(m.group(1))
        last = m.end()
      }
      sb.append(s, last, s.length); sb.toString
    }
    s = ReHeading.matcher(s).replaceAll("$1")
    s = ReQuotes.matcher(s).replaceAll("")
    s = ReListMark.matcher(s).replaceAll("")
    s = ReHr.matcher(s).replaceAll(" ")
    Warc.htmlText(s)
  }

  /** Wikitext blobs → (doc_id, text), a pure map kernel. */
  def wikiTexts(ds: Dataset[Media]): Dataset[(Long, String)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map(m => (m.doc_id,
      wikitextToText(new String(m.media, java.nio.charset.StandardCharsets.UTF_8))))
  }

  // ------------------------------------------------------------------
  // Fixture builder (real export-0.10 framing, real compression)
  // ------------------------------------------------------------------

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** A dump: `pages` = (title, ns, page_id, redirect, wikitext) — the
    * redirect element is written only when non-empty, an empty
    * wikitext on a slice writes the self-closing `<text/>` form.
    * `compress`: 0 plain, 1 gzip, 2 bzip2 MULTISTREAM (the XML split
    * at a page boundary across two independent bz2 streams, the
    * Wikipedia layout). */
  private def pageXml(p: (String, Int, Long, String, String)): String = {
    val (title, ns, pid, redirect, text) = p
    val sb = new java.lang.StringBuilder
    sb.append("  <page>\n")
    sb.append(s"    <title>${xmlEscape(title)}</title>\n")
    sb.append(s"    <ns>$ns</ns>\n")
    sb.append(s"    <id>$pid</id>\n")
    if (redirect.nonEmpty)
      sb.append(s"""    <redirect title="${xmlEscape(redirect)}" />""").append('\n')
    sb.append("    <revision>\n")
    sb.append(s"      <id>${pid * 7 + 1}</id>\n")
    sb.append("      <timestamp>2026-01-02T03:04:05Z</timestamp>\n")
    if (text.isEmpty)
      sb.append("""      <text bytes="0" xml:space="preserve" />""").append('\n')
    else
      sb.append(s"""      <text xml:space="preserve">${xmlEscape(text)}</text>""").append('\n')
    sb.append("    </revision>\n  </page>\n")
    sb.toString
  }

  private val DumpHead =
    "<mediawiki xml:lang=\"en\">\n  <siteinfo><sitename>Fixture</sitename></siteinfo>\n"
  private val DumpTail = "</mediawiki>\n"

  /** One bz2 stream of `s` (blockSize 1: fixture payloads are <4 kB). */
  private def bz2Stream(s: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(bos, 1)
    z.write(s.getBytes("UTF-8")); z.close()
    bos.toByteArray
  }

  def syntheticDump(pages: Seq[(String, Int, Long, String, String)],
      compress: Int): Array[Byte] = {
    val head = DumpHead
    val tail = DumpTail
    compress match {
      case 1 =>
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write((head + pages.map(pageXml).mkString + tail).getBytes("UTF-8")); gz.close()
        bos.toByteArray
      case 2 =>
        // multistream: head + first half in stream 1, rest in stream 2
        val split = pages.length / 2
        bz2Stream(head + pages.take(split).map(pageXml).mkString) ++
          bz2Stream(pages.drop(split).map(pageXml).mkString + tail)
      case _ => (head + pages.map(pageXml).mkString + tail).getBytes("UTF-8")
    }
  }

  // ------------------------------------------------------------------
  // Multistream index slicing (round 14, VERDICT r13 task 5): the
  // ingest PATH to 100 TB. Wikipedia ships each multistream dump with
  // a companion `…-index.txt.bz2` of `offset:pageid:title` lines whose
  // offset is the byte position of the bz2 stream holding that page.
  // Reading the index turns one 20 GB dump FILE into thousands of
  // independently-decodable (offset, length) slices — each a complete
  // bz2 stream whose payload is a bare <page> concatenation, which
  // [[parseDump]] accepts by design (it never assumes the <mediawiki>
  // root). One slice = one task: the dump parallelizes without ever
  // materializing whole.
  // ------------------------------------------------------------------

  /** One index-derived slice of a multistream dump. `n_pages` and
    * `first_page_id` come from the index lines sharing the offset. */
  case class WikiSlice(doc_id: Long, slice_idx: Int, offset: Long,
      length: Long, n_pages: Long, first_page_id: Long)

  /** An index blob plus the dump file's total byte length (the index
    * alone cannot bound its last slice). */
  case class WikiIndexSrc(doc_id: Long, index: Array[Byte], dump_len: Long)

  /** Index walk: bz2/gzip/plain `offset:pageid:title` lines →
    * (offset, pageId, title). Titles may contain ':' — only the first
    * two colons delimit. Corrupt lines are skipped (keep what parses,
    * never throw). */
  private[graft] def parseIndex(raw: Array[Byte]): Seq[(Long, Long, String)] = {
    if (raw == null || raw.length == 0) return Nil
    val b =
      if (raw.length >= 2 && (raw(0) & 0xFF) == 0x1F && (raw(1) & 0xFF) == 0x8B)
        graft.serde.Zlib.gunzipAll(raw).getOrElse(return Nil)
      else if (raw.length >= 3 && raw(0) == 'B' && raw(1) == 'Z' && raw(2) == 'h')
        bunzipAll(raw).getOrElse(return Nil)
      else raw
    val text = new String(b, java.nio.charset.StandardCharsets.UTF_8)
    text.split("\n", -1).toSeq.flatMap { line0 =>
      val line = line0.stripSuffix("\r")
      val c1 = line.indexOf(':')
      val c2 = if (c1 < 0) -1 else line.indexOf(':', c1 + 1)
      if (c2 < 0) None
      else for {
        off <- line.substring(0, c1).toLongOption
        pid <- line.substring(c1 + 1, c2).toLongOption
        if off >= 0 && pid >= 0
      } yield (off, pid, line.substring(c2 + 1))
    }
  }

  /** Distinct offsets in order → (offset, length) ranges; the last
    * slice runs to `dumpLen` (which may append the closing-root tail
    * stream — concatenated-mode bunzip plus the rootless page walk
    * make that harmless by construction). */
  private[graft] def sliceRanges(entries: Seq[(Long, Long, String)],
      dumpLen: Long): Seq[(Long, Long)] = {
    val offs = entries.map(_._1).distinct.sorted.filter(o => o >= 0 && o < dumpLen)
    offs.zipWithIndex.map { case (o, i) =>
      val end = if (i + 1 < offs.length) offs(i + 1) else dumpLen
      (o, end - o)
    }.filter(_._2 > 0)
  }

  /** Index blobs → slice rows, a pure flatMap kernel. The slim (no
    * dump bytes) output is what a 100 TB planner shuffles or ranges
    * over — ~40 bytes per slice for a 20 GB dump's ~200k streams. */
  def indexSlices(ds: Dataset[WikiIndexSrc]): Dataset[WikiSlice] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap { src =>
      val entries = parseIndex(src.index)
      val byOff = entries.groupBy(_._1)
      sliceRanges(entries, src.dump_len).zipWithIndex.map { case ((off, len), i) =>
        val here = byOff.getOrElse(off, Nil)
        WikiSlice(src.doc_id, i, off, len, here.length.toLong,
          if (here.isEmpty) -1L else here.map(_._2).min)
      }
    })
  }

  /** The per-slice decode kernel: one (dump bytes, index bytes) pair →
    * (slice_idx, page) via real slicing — each slice's bytes are cut
    * at the index offsets and walked independently, exactly what the
    * ranged-read path does per task. */
  private[graft] def pagesBySlice(dump: Array[Byte], index: Array[Byte]): Seq[(Int, WikiPage)] = {
    if (dump == null) return Nil
    sliceRanges(parseIndex(index), dump.length.toLong).zipWithIndex.flatMap {
      case ((off, len), si) =>
        parseDump(java.util.Arrays.copyOfRange(dump, off.toInt, (off + len).toInt))
          .map(p => (si, p))
    }
  }

  /** Slice rows → pages via Hadoop FS RANGED reads: each task opens
    * `path(doc)` once per partition, seeks to its slices' offsets, and
    * reads exactly `length` bytes — the dump file never materializes
    * whole anywhere, and `slices.repartition(n)` IS the parallelism
    * dial. This is the 100 TB ingest form; the hermetic fixture form
    * is [[pagesBySlice]] with in-row bytes (same kernel after the
    * read). Slices whose range cannot be read (file gone, short read)
    * are skipped — corrupt-input posture, never a task failure. */
  def slicePagesFs(slices: Dataset[(WikiSlice, String)]): Dataset[WikiPage] = {
    val spark = slices.sparkSession
    import spark.implicits._
    // open/close machinery (per-path stream cache, failed-open caching,
    // drain-close + TaskCompletionListener backstop) lives ONCE in
    // [[FsRanged.mapRanged]], shared with [[Warc.fetchRecords]]
    FsRanged.mapRanged(slices) { (in, s) =>
      if (s.length <= 0 || s.length > Int.MaxValue - 8) Iterator.empty
      else {
        val buf = new Array[Byte](s.length.toInt)
        in.readFully(s.offset, buf) // positioned read: thread-safe, seek-free
        parseDump(buf).iterator
          .map(p => p.copy(doc_id = s.doc_id, page_idx = s.slice_idx))
      }
    }
  }

  /** Fixture: a REAL multistream dump + its REAL index. Stream layout:
    * header stream (siteinfo, no pages), `streams` page streams (page
    * i goes to stream i*streams/nPages — contiguous chunks, replayable
    * integer arithmetic), and a closing-root tail stream. The index
    * lines carry the true byte offsets recorded while concatenating,
    * bz2-compressed like the real `-index.txt.bz2`. */
  def syntheticMultistreamIndexed(pages: Seq[(String, Int, Long, String, String)],
      streams: Int): (Array[Byte], Array[Byte]) = {
    require(streams >= 1 && streams <= pages.length)
    val dump = new java.io.ByteArrayOutputStream()
    dump.write(bz2Stream(DumpHead))
    val indexLines = new java.lang.StringBuilder
    var j = 0
    while (j < streams) {
      val chunk = pages.zipWithIndex
        .filter { case (_, i) => i * streams / pages.length == j }
        .map(_._1)
      val off = dump.size.toLong
      chunk.foreach { p =>
        indexLines.append(off).append(':').append(p._3).append(':')
          .append(p._1).append('\n')
      }
      dump.write(bz2Stream(chunk.map(pageXml).mkString))
      j += 1
    }
    dump.write(bz2Stream(DumpTail))
    (dump.toByteArray, bz2Stream(indexLines.toString))
  }
}
