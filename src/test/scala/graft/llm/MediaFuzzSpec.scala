package graft.llm

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Systematic corrupt-input sweep over EVERY media decode entry point:
  * pure random buffers, random byte-flips of every valid fixture the
  * engine can render, and random truncations. The invariant under test
  * is the engine's corrupt-scrape posture — a decoder may return None
  * or a bounded garbage decode, but must NEVER throw (an exception
  * inside a mapPartitions decode kernel kills a 100 TB job's task,
  * retries it, and kills it again — corrupt bytes are NORMAL input at
  * scale, not an error path). Deterministic seeds; complements the
  * targeted corrupt-input tests next to each decoder. */
class MediaFuzzSpec extends AnyFunSuite with TimeLimits {

  private def rng(seed: Long): () => Long = {
    var s = seed
    () => {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s
    }
  }

  // every dispatcher + every direct parser the engine exposes
  private val surfaces: Seq[(String, Array[Byte] => Any)] = Seq(
    "imageHashOf" -> (b => Multimodal.imageHashOf(b)),
    "audioHashOf" -> (b => Multimodal.audioHashOf(b)),
    "videoHashesOf" -> (b => Multimodal.videoHashesOf(b, 12)),
    "parseMp3" -> (b => Multimodal.parseMp3(b)),
    "parseBmp" -> (b => Multimodal.parseBmp(b)),
    "parsePng" -> (b => Multimodal.parsePng(b)),
    "parseGif" -> (b => Multimodal.parseGif(b)),
    "parseJpeg" -> (b => Multimodal.parseJpeg(b)),
    "parseWav" -> (b => Multimodal.parseWav(b)),
    "tiffDims" -> (b => Tiff.parseDims(b)),
    "icoDecode" -> (b => Multimodal.decodeIcoGray(b)),
    "qoiDecode" -> (b => Multimodal.decodeQoiGray(b)),
    "tiffDecode" -> (b => Tiff.decodeGray(b)),
    "flacDecode" -> (b => Flac.decodePcm(b)),
    "mp4Parse" -> (b => Containers.parseMp4(b)),
    "oggParse" -> (b => Containers.parseOgg(b)),
    "aviParse" -> (b => Containers.parseAvi(b)),
    "webpParse" -> (b => Containers.parseWebp(b)),
    "mkvParse" -> (b => Containers.parseMkv(b)),
    "avifParse" -> (b => Containers.parseAvif(b)),
    "warcParse" -> (b => Warc.parseWarc(b)),
    "tarParse" -> (b => Archives.parseTar(b)),
    "wdsParse" -> (b => Archives.parseWds(b)),
    "zipParse" -> (b => Archives.parseZip(b)),
    "pdfParse" -> (b => Pdf.parsePdf(b)),
    "pdfPages" -> (b => Pdf.pagesOf(0L, b)),
    "docxText" -> (b => Docs.docxText(b)),
    "odtText" -> (b => Docs.odtText(b)),
    "wetTexts" -> (b => Warc.parseWarc(b)),
    "epubChapters" -> (b => Docs.epubChapters(b)),
    "latexText" -> (b => Latex.latexText(new String(b, "UTF-8"))),
    "mboxParse" -> (b => Mail.parseMbox(b)),
    "docRouter" -> (b => Docs.extractAny(b)),
    "mdText" -> (b => Markdown.mdText(new String(b, "UTF-8"))),
    "rtfText" -> (b => Rtf.rtfText(new String(b, "ISO-8859-1"))),
    "robotsParse" -> (b => Crawl.parseRobots(new String(b, "UTF-8"))),
    "sitemapParse" -> (b => Crawl.parseSitemap(new String(b, "UTF-8"))),
    "bibParse" -> (b => Bibtex.parseBib(new String(b, "UTF-8"))),
    "codeStripC" -> (b => Code.stripComments(new String(b, "UTF-8"), "c")),
    "codeStripHash" -> (b => Code.stripComments(new String(b, "UTF-8"), "hash")),
    "licenseOf" -> (b => Code.licenseOf(new String(b, "UTF-8"))),
    "feedParse" -> (b => Feeds.parseFeed(new String(b, "UTF-8"))),
    "mailMessage" -> (b => Mail.parseMessage(new String(b, "ISO-8859-1"))),
    "subCues" -> (b => Subtitles.parseCues(new String(b, "UTF-8"))),
    "id3Tags" -> (b => Multimodal.id3TextFrames(b)),
    "oggComments" -> (b => Containers.oggComments(b)),
    "mp4Tags" -> (b => Containers.mp4Tags(b)),
    "wavInfoTags" -> (b => Multimodal.wavInfoTags(b)),
    "wikiDump" -> (b => Wiki.parseDump(b)),
    "wikitext" -> (b => Wiki.wikitextToText(new String(b, "UTF-8"))),
    "decompressAny" -> (b => Archives.decompressAny(b)),
    "htmlBlocks" -> (b => Boilerplate.blocks(new String(b, "UTF-8"))),
    "sePosts" -> (b => StackExchange.parsePosts(b)),
    "diffParse" -> (b => Diff.parseDiff(new String(b, "UTF-8"))),
    "sentenceSplit" -> (b => TextAnalysis.splitSentences(new String(b, "UTF-8"))),
    "surt" -> (b => Crawl.surt(new String(b, "UTF-8"))),
    "htmlTables" -> (b => Tables.parseTables(new String(b, "UTF-8"))),
    "frontMatter" -> (b => Markdown.frontMatter(new String(b, "UTF-8"))),
    "vp8lDecode" -> (b => Vp8l.decodeGray(b)),
    // round 15: the CMap parser and the four new stream-filter decoders
    "pdfCmap" -> (b => Pdf.parseCmap(b)),
    "pdfAsciiHex" -> (b => Pdf.asciiHexDecode(b)),
    "pdfAscii85" -> (b => Pdf.ascii85Decode(b, 1 << 20)),
    "pdfRunLength" -> (b => Pdf.runLengthDecode(b, 1 << 20)),
    "pdfLzw" -> (b => graft.serde.Lzw.decode(b, 0, b.length, earlyChange = true, 1 << 20)))

  // one representative of every container/layout family the engine writes
  private def fixtures: Seq[(String, Array[Byte])] = {
    val px = Array.tabulate(18 * 16)(i => (i * 7 + 13) % 255)
    val samples = Array.tabulate(1950)(j => ((j * 31) % 4001) - 2000)
    val frames12 = (0 until 12).map(f => Array.tabulate(18 * 16)(i => (i + f * 9) % 255))
    Seq(
      "bmp24" -> Multimodal.syntheticBmpPixels(18, 16, px),
      "bmp8" -> Multimodal.syntheticBmp8(18, 16, px),
      "bmpCore" -> Multimodal.syntheticBmpCore(18, 16, px, palettized = true),
      "png" -> Multimodal.syntheticPngPixels(18, 16, px, colorType = 2,
        rowFilters = Seq(1, 4, 2)),
      "pngPalAdam7" -> Multimodal.syntheticPngPixels(18, 16, px, colorType = 3,
        rowFilters = Seq(3, 0), interlaced = true),
      "png16" -> Multimodal.syntheticPngPixels(18, 16, px, bitDepth = 16),
      "gif" -> Multimodal.syntheticGifPixels(18, 16, px, interlaced = true),
      "gifAnim" -> Multimodal.syntheticGifAnimated(18, 16, frames12),
      "gifDeltas" -> Multimodal.syntheticGifAnimatedDeltas(18, 16, Seq(
        (0, 0, 18, 16, px.map(v => v min 254), 0),
        (4, 3, 8, 6, Array.tabulate(48)(i => if (i % 3 == 0) -1 else i % 254), 2),
        (2, 2, 6, 5, Array.fill(30)(99), 3))),
      "icoDib" -> Multimodal.syntheticIco(18, 16, px),
      "qoi" -> Multimodal.syntheticQoi(18, 16, px),
      "webpLiterals" -> Vp8l.syntheticWebpGray(18, 16, px.map(_ % 176), 0),
      "webpCache" -> Vp8l.syntheticWebpGray(18, 16, px.map(_ % 176), 1),
      "webpLz77" -> Vp8l.syntheticWebpGray(18, 16, px.map(_ % 176), 2),
      "webpPalette" -> Vp8l.syntheticWebpGray(18, 16, px.map(_ % 176), 4),
      "webpPredictor" -> Vp8l.syntheticWebpGray(18, 16, px.map(_ % 176), 5),
      "webpAnim" -> Vp8l.syntheticWebpAnim(18, 16, 10, Seq(
        (0, 0, 18, 16, px.map(_ % 176), 255, false, false, 0),
        (4, 6, 8, 6, Array.tabulate(48)(i => (i * 11) % 200), 255, false, true, 1),
        (12, 2, 4, 4, Array.tabulate(16)(i => (i * 9) % 120), 128, true, false, 2))),
      "icoPng" -> Multimodal.syntheticIco(18, 16, px, png = true),
      "jpeg" -> Multimodal.syntheticJpegPixels(24, 16, Array.tabulate(24 * 16)(i => i % 200)),
      "jpegExif" -> Multimodal.withExifOrientation(
        Multimodal.syntheticJpegPixels(24, 16, Array.tabulate(24 * 16)(i => i % 200)),
        6, bigEndian = true),
      "jpegProg" -> Multimodal.syntheticJpegProgressive(24, 16,
        Array.tabulate(24 * 16)(i => i % 200)),
      "jpegProg420" -> Multimodal.syntheticJpegProgressive(32, 16,
        Array.tabulate(32 * 16)(i => i % 200), color420 = true),
      "tiffLzw" -> Tiff.syntheticTiffPixels(18, 16, px, compression = 5, predictor = 2),
      "tiffDeflate" -> Tiff.syntheticTiffPixels(18, 16, px, compression = 8,
        bigEndian = true),
      "tiffTiled" -> Tiff.syntheticTiffPixels(18, 16, px, compression = 5,
        tileSize = 8),
      "tiff16" -> Tiff.syntheticTiffPixels(18, 16, px, bits16 = true,
        bigEndian = true),
      "wav16" -> Multimodal.syntheticWavPcm(8000, samples),
      "wavFloat" -> Multimodal.syntheticWav(8000, samples, "float32"),
      "wavG711" -> Multimodal.syntheticWavG711(8000, 7,
        Array.tabulate[Byte](1950)(j => (j * 3).toByte)),
      "wavAdpcm" -> Multimodal.syntheticWavAdpcm(8000, 1, samples),
      "wavMsAdpcm" -> Multimodal.syntheticWavAdpcmMs(8000, 1, samples),
      "aiff" -> Multimodal.syntheticAiff(8000, samples),
      "aifcSowt" -> Multimodal.syntheticAifc(8000, samples, "sowt"),
      "au" -> Multimodal.syntheticAu(8000, 1,
        Array.tabulate[Byte](1950)(j => (j * 5).toByte)),
      "flac" -> Flac.synthetic(8000, samples, blockSize = 256, strategy = "fixed2"),
      "y4m" -> Multimodal.syntheticY4m(18, 16, frames12),
      "mp3" -> Multimodal.syntheticMp3(version1 = true, srIdx = 0,
        (0 until 20).map(j => (1 + j % 14, j % 2)),
        Array.tabulate[Byte](64)(_.toByte), trailingTag = true),
      "mp4" -> Containers.syntheticMp4(brands = 3, mvhdV1 = true, timescale = 3000,
        duration = 16500L, w = 176, h = 144, nVideoSamples = 30, audioTrack = true,
        mdatLen = 80, freeLen = 16, junkLen = 9),
      "ogg" -> Containers.syntheticOgg(vorbis = true, rate = 22050, channels = 2,
        serial = 5, dataPages = 4,
        pageLen = i => if (i == 0) 560 else 120 + i * 13, granuleStep = 512L),
      "avi" -> Containers.syntheticAvi(352, 288, 40000L, 75L, audioStream = true,
        moviChunks = 3, chunkLen = i => 65 + i * 11, junkLen = 7),
      "webpAnim" -> Containers.syntheticWebp("extended", 320, 240, alpha = true,
        animFrames = 3, frameLen = i => 21 + i * 8, fillLen = 25, alphaLen = 13,
        exifLen = 11),
      "webpLossless" -> Containers.syntheticWebp("lossless", 160, 90, alpha = true,
        animFrames = 0, frameLen = _ => 0, fillLen = 33),
      "avif" -> Containers.syntheticAvif("avif", 2, 640, 480, thumbnail = true,
        propLen = 13, ipmaLen = 7, mdatLen = 90),
      "mkv" -> Containers.syntheticMkv(640, 360, 400.0, 2000000L, writeScale = true,
        audioTrack = true, swapOrder = true, nClusters = 3,
        blocksPerCluster = ci => 1 + ci % 3, blockLen = (ci, j) => 12 + ci * 5 + j * 3,
        videoCodec = "V_VP9", segSizeMode = 1),
      "warcPlain" -> Warc.syntheticWarc(2, i => s"https://x/$i", _ => (200, "OK"),
        i => s"<html><body>p$i</body></html>", gzipped = false, withRequests = true,
        lowerCaseHeaders = false, infoLen = 12),
      "warcGz" -> Warc.syntheticWarc(2, i => s"https://x/$i", _ => (404, "Not Found"),
        i => s"<p>q$i</p>", gzipped = true, withRequests = false,
        lowerCaseHeaders = true, infoLen = 7),
      "wikiBz2" -> Wiki.syntheticDump(Seq(
        ("A & b", 0, 3L, "", "'''x''' [[l|y]] {{t}}"),
        ("T:c", 1, 4L, "A & b", "")), compress = 2),
      // round 15: composite fonts, the modern layout, filter chains,
      // charset-planted archives — flip/truncate them all
      "pdfCid" -> Pdf.syntheticCidPdf("1.6", "Hi (x)", Seq(0x0001, 0x0010),
        "a=1 ¥".getBytes("ISO-8859-1"), splitTj = true, flateCmap = true),
      "pdfObjStm" -> Pdf.syntheticObjStmPdf("1.7", Seq("one (a)", "two"),
        flateObjStm = true, flateContent = true),
      "pdfA85Flate" -> Pdf.syntheticFilterPdf("1.4", Seq("x (y)", "zzzzzz"), 4),
      "pdfLzw" -> Pdf.syntheticFilterPdf("1.4", Seq("lzw body", "zzzzzz"), 3),
      "pdfHexRl" -> Pdf.syntheticFilterPdf("1.4", Seq("hex rl", "zzzzzz"), 5),
      "warcCharset" -> Warc.syntheticWarcRaw(Seq(
        ("http://a/", "text/html; charset=windows-1252",
          Array[Byte]('q', 0x93.toByte)),
        ("http://b/", "text/html",
          Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte, 'x')),
        ("http://c/", "text/html",
          "<meta charset=shift_jis>x".getBytes("ISO-8859-1"))), gzipped = true),
      "jsonlZst" -> Archives.syntheticJsonl(Seq(
        """{"id":1,"t":"a"}""", """{"id":2,"t":"b"}"""), compress = 2),
      "jsonlXz" -> Archives.syntheticJsonl(Seq("""{"id":3}"""), compress = 3),
      "sePostsZst" -> StackExchange.syntheticPosts(Seq(
        (1L, 1, 5, "T &", Seq("a"), "<p>b</p>")), compress = 2),
      "tar" -> Archives.syntheticTar(Seq(
        ("d/", '5', Array.emptyByteArray),
        ("d/a.txt", '0', "hello tar".getBytes),
        ("pax", 'x', Array[Byte](1, 2, 3)),
        ("d/b.bin", '0', Array.tabulate[Byte](700)(j => (j * 3).toByte))),
        gzipped = false),
      "tarGzWds" -> Archives.syntheticTar(Seq(
        ("s0.jpg", '0', Array.tabulate[Byte](40)(j => (j * 5).toByte)),
        ("s0.txt", '0', "cap".getBytes),
        ("s1.jpg", '0', Array.tabulate[Byte](33)(j => (j * 9).toByte))),
        gzipped = true),
      "zip" -> Archives.syntheticZip(Seq(
        ("a.txt", "stored body".getBytes, true),
        ("b/c.txt", ("deflate body " * 20).getBytes, false))),
      "pdf" -> Pdf.syntheticPdf("1.6",
        p => Seq(s"line (a) $p", "x \\ y", "octal"), 2, formSeed = 1,
        octalAll = true, flate = p => p == 0, filterArray = true,
        twoStreams = p => p == 1, indirectLength = false, outOfOrder = true,
        nested = true, encrypted = false),
      "docx" -> Docs.syntheticDocx(Seq(
        Seq("Hel", "lo ", "a&b"), Seq("x\ty", "\nz")), storedParts = false),
      "epub" -> Docs.syntheticEpub(Seq(
        ("a.xhtml", "<html><body><p>one &amp; two</p></body></html>"),
        ("b.xhtml", "<html><body><p>three</p></body></html>")),
        Seq(1, 0), Some("decoy.xhtml")),
      "odt" -> Docs.syntheticOdt(Seq(Seq("a  b", "\tc"), Seq("d & e\nf"))),
      "rtf" -> Rtf.syntheticRtf(Seq("p one {brace}", "p two"), Some("uni — é")),
      "robots" -> ("User-agent: a\nDisallow: /x/\nAllow: /x/y$\nUser-agent: *\n" +
        "Sitemap: https://s\n").getBytes("UTF-8"),
      "bib" -> ("@string{j = {J}}\n@article{k, title = {T {n} t}, " +
        "author = \"a and\n b\", journal = \"P \" # j, year = 2000}\n").getBytes("UTF-8"),
      "sitemap" -> Crawl.syntheticSitemap(index = false, Seq(
        ("https://e/p?a=1&b=2", "2026-01-01", Some(0.25)), ("https://e/q", "", None))),
      "rssFeed" -> Feeds.syntheticFeed(atom = false, Seq(
        ("t & 1", "https://l", "<p>b &amp; c</p>")), _ => true),
      "atomFeed" -> Feeds.syntheticFeed(atom = true, Seq(
        ("t2", "https://l2", "<p>d</p>")), _ => false),
      "wet" -> Warc.syntheticWet(Seq(
        ("https://x/1", "line é one\ntwo"), ("https://x/2", "t2")), gzipped = true),
      "mbox" -> Mail.syntheticMbox(Seq(
        Mail.syntheticMessage("a@x", "b@x c@x", "Sub one", "plain = text\nline", 3, 2, foldTo = true),
        Mail.syntheticMessage("c@x", "d@x", "Sub two", "base body", 2, 1, foldTo = false))),
      "vtt" -> Subtitles.synthetic(Seq(
        (0L, 900L, Seq("one", "two")), (2000L, 3000L, Seq("three"))),
        vtt = true, vttSettings = true, vttIds = true).getBytes("UTF-8"),
      "srt" -> Subtitles.synthetic(Seq(
        (0L, 900L, Seq("uno")), (2000L, 3000L, Seq("dos", "tres"))),
        vtt = false).getBytes("UTF-8"),
      "mp3Tagged" -> Multimodal.syntheticMp3(version1 = true, srIdx = 0,
        Seq((5, 0), (9, 1)), Multimodal.id3FramesPayload(3,
          Seq(("TIT2", "t"), ("TPE1", "a")), encoding = 1, padding = 9), id3Version = 3),
      "oggTagged" -> Containers.syntheticOgg(vorbis = true, 8000, 1, 5, 2,
        _ => 50, 128L, comments = Seq(("TITLE", "x" * 300))),
      "m4aTagged" -> Containers.syntheticMp4(1, mvhdV1 = true, 1000, 2000L,
        0, 0, 0, audioTrack = true, mdatLen = 24,
        tags = Seq(("©nam", "t"), ("©ART", "a"))))
  }

  test("pure random buffers never throw in any decoder") {
    val next = rng(0xF00DL)
    for (trial <- 0 until 40) {
      val len = (math.abs(next()) % 5000).toInt + (trial % 3) // incl. tiny
      val buf = Array.tabulate[Byte](len)(_ => next().toByte)
      surfaces.foreach { case (name, f) =>
        try f(buf)
        catch { case e: Throwable =>
          fail(s"$name threw on random buffer (trial $trial, len $len): $e")
        }
      }
    }
  }

  test("byte-flipped valid fixtures never throw in any decoder") {
    val next = rng(0xBEEFL)
    fixtures.foreach { case (fname, orig) =>
      for (_ <- 0 until 25) {
        val mutated = orig.clone()
        val flips = 1 + (math.abs(next()) % 4).toInt
        for (_ <- 0 until flips) {
          val at = (math.abs(next()) % mutated.length).toInt
          mutated(at) = (mutated(at) ^ (1 << (math.abs(next()) % 8).toInt).toByte).toByte
        }
        surfaces.foreach { case (sname, f) =>
          try f(mutated)
          catch { case e: Throwable =>
            fail(s"$sname threw on flipped $fname: $e")
          }
        }
      }
    }
  }

  test("random truncations of valid fixtures never throw in any decoder") {
    val next = rng(0xCAFEL)
    fixtures.foreach { case (fname, orig) =>
      for (_ <- 0 until 15) {
        val cut = orig.take((math.abs(next()) % orig.length).toInt)
        surfaces.foreach { case (sname, f) =>
          try f(cut)
          catch { case e: Throwable =>
            fail(s"$sname threw on truncated $fname (${cut.length}/${orig.length}): $e")
          }
        }
      }
    }
  }

  test("PNG whose zlib header asks for a preset dictionary returns None instead of spinning") {
    // 4x4 8-bit gray; IDAT is a zlib header with FDICT set (78 BB), a
    // dictionary id, then bytes the inflater never gets to. Every CRC is
    // valid, so only the inflate loop stands between the bytes and a task
    // that never finishes.
    def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val body = tpe.getBytes("US-ASCII") ++ data
      val crc = new java.util.zip.CRC32; crc.update(body)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(body).putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(4).putInt(4)
      .put(Array[Byte](8, 0, 0, 0, 0)).array()
    val idat = Array(0x78, 0xBB, 0, 0, 0, 1, 0x63, 0x60, 0x18, 0x05, 0, 0).map(_.toByte)
    val png = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++ chunk("IEND", Array.emptyByteArray)
    assert(png.length == 69)
    @volatile var got: Option[Any] = Some("not run")
    val t = new Thread(() => got = Multimodal.decodePngGray(png))
    t.setDaemon(true) // a spinning decode must not keep the JVM alive
    t.start()
    implicit val signaler: Signaler = ThreadSignaler
    failAfter(Span(5, Seconds))(t.join())
    assert(got.isEmpty)
  }
}
