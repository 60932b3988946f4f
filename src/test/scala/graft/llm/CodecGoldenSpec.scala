package graft.llm

import java.awt.image.BufferedImage
import java.io.{ByteArrayOutputStream, DataOutputStream}
import javax.imageio.{ImageIO, ImageWriteParam}

import org.scalatest.funsuite.AnyFunSuite

/** Golden SHA-256 pins of the JPEG, TIFF-LZW and PDF-LZW codecs: the bytes
  * of every fixture the query registries, ScaleProbe and the specs render
  * through those encoders, and what the decoders make of them (JPEG luma,
  * TIFF luma, PDF page text), including JPEGs the JDK's ImageIO writes.
  * The hashes were taken from the decoders and encoders as they stood
  * before each format's codecs were folded into one, so any change to a
  * fixture byte or a decoded value shows here. */
class CodecGoldenSpec extends AnyFunSuite {
  System.setProperty("java.awt.headless", "true")

  private final class Digest {
    private val bos = new ByteArrayOutputStream()
    private val out = new DataOutputStream(bos)
    def bytes(b: Array[Byte]): Unit = { out.writeInt(b.length); out.write(b) }
    def luma(d: Option[(Int, Int, Array[Int])]): Unit = d match {
      case Some((w, h, px)) => out.writeInt(w); out.writeInt(h); px.foreach(out.writeInt)
      case None => out.writeInt(-1)
    }
    def text(s: String): Unit = bytes(s.getBytes("UTF-8"))
    def hex: String = {
      out.flush()
      java.security.MessageDigest.getInstance("SHA-256").digest(bos.toByteArray)
        .map(x => f"${x & 0xFF}%02x").mkString
    }
  }

  private def isJpeg(b: Array[Byte]) =
    b.length >= 2 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8

  private def jpegLuma(b: Array[Byte]) = Multimodal.decodeJpegGray(b)

  /** Fixture bytes of every medium, plus the luma of the JPEG and TIFF ones. */
  private def media(ms: Seq[Multimodal.Media]): (String, String) = {
    val bytes = new Digest; val decoded = new Digest
    ms.foreach { m =>
      bytes.bytes(m.media)
      if (isJpeg(m.media)) decoded.luma(jpegLuma(m.media))
      else if (Tiff.isTiff(m.media)) decoded.luma(Tiff.decodeGray(m.media))
    }
    (bytes.hex, decoded.hex)
  }

  private val ids = 0L until 240L
  private def lcg(seed: Long, n: Int): Array[Int] = {
    var s = seed
    Array.fill(n) { s = s * 6364136223846793005L + 1442695040888963407L; ((s >>> 33) % 256).toInt }
  }

  test("query-registry image fixtures: bytes and decoded luma") {
    import graft.queries.LlmQueries
    val got = Seq(
      "jpeg" -> media(ids.map(LlmQueries.jpegMedia)),
      "exif" -> media(ids.map(LlmQueries.exifMedia)),
      "jpegProg" -> media(ids.map(LlmQueries.jpegProgMedia)),
      "jpegProg420" -> media(ids.map(LlmQueries.jpegProg420Media)),
      "tiff" -> media(ids.map(LlmQueries.tiffMedia)),
      "crossContainer" -> media(ids.map(LlmQueries.crossContainerMedia)),
      "probeImageCross" -> media(
        Seq(0L, 1000000L, 2000000L).flatMap(v => (0L until 60L).map(_ + v))
          .map(graft.ScaleProbe.probeImageCrossMedia)))
    val want = Seq(
      "jpeg" -> ("9c5a8a4d4299d5577297e3db875be20b102a36d5b420cdc8525b98690629d008",
        "8f8756f8c36e4e4b2e196e3338e33ddd56ea90977d995738d990e99243fbe131"),
      "exif" -> ("fba2e4e051c27520c98a9048b513928a689ae56292fadf2a2394cc3216fe8d5b",
        "9d06610fe06f2f8fa6aec3687e00d108e836c88f9586f1077f3361318ce9da6a"),
      "jpegProg" -> ("0013ce276a78e42116e32f42f1f6aeae5d8fd4d6d418b03371ae901c7b19d3ba",
        "8f8756f8c36e4e4b2e196e3338e33ddd56ea90977d995738d990e99243fbe131"),
      "jpegProg420" -> ("a0bd717f919b6cc04c6dac3f1e3678c9d9ad83c30173098db48ddba6b6485b2f",
        "a92a5b77d60fce2d955362ec62f863c8f4b01a1362fce6e2f12aeeb620abff37"),
      "tiff" -> ("e5e080922537227677519d6574904c1a17a00dccb3f1d449bd818341952bd368",
        "beabf9078997a475fcf62b85d0c61600c3675d589b2526aa59884c8c19e58b90"),
      "crossContainer" -> ("dda0735ae2a98ad486b580e7b66e415dd758aa2d41f7a046370ceee07b3d84bc",
        "6874d50d0192fd7b5555e8a2d37088b86e30517dd0ea5a4fb35150bc324cb8f0"),
      "probeImageCross" -> ("8cfd0850176a39b59450a477bb99c66855735521a57d8ef7b5528905e0c4f772",
        "6f1559daad2a14bf4fd8630f8ace71b880a3605143a111ce1bae7faba19102cb"))
    assert(got == want)
  }

  test("query-registry PDF filter fixtures: bytes and extracted text") {
    import graft.queries.LlmQueries
    val bytes = new Digest; val text = new Digest
    ids.map(LlmQueries.filterPdfMedia).foreach { m =>
      bytes.bytes(m.media)
      Pdf.pagesOf(m.doc_id, m.media).foreach(p => text.text(s"${p.n_shows}|${p.text}"))
    }
    assert((bytes.hex, text.hex) == (
      "5afc28d2f88a8efa22e9afc2129322718eac000d4bd57d193ce78095a6153ecb",
      "86fde6f484e2b37200f100e0296e52817b4372b0a4bbd0420ba340e3f45cd29f"))
  }

  test("spec-style JPEG fixtures: both encoders across layouts, restarts and content") {
    val bytes = new Digest; val decoded = new Digest
    def add(b: Array[Byte]): Unit = { bytes.bytes(b); decoded.luma(jpegLuma(b)) }
    def contents(w: Int, h: Int): Seq[Array[Int]] = Seq(
      Array.tabulate(w * h)(i => (((i % w) / 8) * 29 + (i / w / 8) * 41) % 200),
      Array.tabulate(w * h)(i => ((i % w) * 5 + (i / w) * 3) % 256),
      Array.tabulate(w * h)(i => if (i % 97 == 0) 255 else 128),
      Array.tabulate(w * h)(i => i % 200),
      lcg(w * 1000L + h, w * h))
    for ((w, h) <- Seq((8, 8), (16, 16), (24, 16), (32, 16), (32, 32), (48, 32), (64, 48));
         px <- contents(w, h)) {
      for (ri <- Seq(0, 1, 2, 3, 5); color <- Seq(false, true))
        add(Multimodal.syntheticJpegPixels(w, h, px, restartInterval = ri, color = color))
      add(Multimodal.syntheticJpegProgressive(w, h, px))
      if (w % 16 == 0 && h % 16 == 0)
        add(Multimodal.syntheticJpegProgressive(w, h, px, color420 = true))
    }
    add(Multimodal.withExifOrientation(
      Multimodal.syntheticJpegPixels(24, 16, Array.tabulate(24 * 16)(i => i % 200)),
      6, bigEndian = true))
    assert((bytes.hex, decoded.hex) == (
      "70aff772ea7be031813b5e82bdc4a563a77308abcebaaec596541066a90563e7",
      "495fe326e9fefbe5984518ae7b02c8890e33c148cc0313692f7dddd77f95b074"))
  }

  private def imageio(img: BufferedImage, format: String, progressive: Boolean = false,
      compression: Option[String] = None): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName(format).next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    if (progressive) p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    compression.foreach { c =>
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionType(c)
    }
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.flush(); writer.dispose()
    bos.toByteArray
  }

  private def image(w: Int, h: Int, px: Array[Int], color: Boolean): BufferedImage = {
    val img = new BufferedImage(w, h,
      if (color) BufferedImage.TYPE_3BYTE_BGR else BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val g = px(y * w + x)
      if (color) img.setRGB(x, y, (g << 16) | (g << 8) | g)
      else img.getRaster.setSample(x, y, 0, g)
    }
    img
  }

  test("ImageIO-written JPEGs, baseline and progressive, gray and 4:2:0: decoded luma") {
    val decoded = new Digest
    for ((w, h) <- Seq((48, 32), (40, 24), (61, 47));
         px <- Seq(
           Array.tabulate(w * h)(i => (((i % w) / 8) * 31 + (i / w / 8) * 47) % 211),
           Array.tabulate(w * h)(i => ((i % w) * 5 + (i / w) * 3) % 256),
           lcg(w * 7L + h, w * h));
         color <- Seq(false, true); progressive <- Seq(false, true))
      decoded.luma(jpegLuma(imageio(image(w, h, px, color), "jpg", progressive)))
    assert(decoded.hex == "8732ea2939f4977044f4e4a7a410a3d501097c07b7527461040700e648ca7111")
  }

  test("TIFF-LZW and PDF-LZW fixtures: bytes and decoded output") {
    val tiff = new Digest; val tiffLuma = new Digest
    for ((w, h) <- Seq((18, 16), (61, 47), (200, 60), (256, 96));
         px <- Seq(lcg(w * 3L + h, w * h),
           Array.tabulate(w * h)(i => if (((i % w) / 17) % 2 == 0) ((i / w) * 3) % 256 else (i % w % 5) * 40));
         predictor <- Seq(1, 2); rgb <- Seq(false, true); rows <- Seq(h, 7);
         be <- Seq(false, true)) {
      val b = Tiff.syntheticTiffPixels(w, h, px, compression = 5, predictor = predictor,
        rgb = rgb, rowsPerStrip = rows, bigEndian = be)
      tiff.bytes(b); tiffLuma.luma(Tiff.decodeGray(b))
    }
    for (tile <- Seq(8, 16)) {
      val b = Tiff.syntheticTiffPixels(61, 47, lcg(tile, 61 * 47), compression = 5, tileSize = tile)
      tiff.bytes(b); tiffLuma.luma(Tiff.decodeGray(b))
    }
    val ioLzw = imageio(image(61, 47, lcg(99L, 61 * 47), color = false), "tiff",
      compression = Some("LZW"))
    tiffLuma.luma(Tiff.decodeGray(ioLzw))
    val pdf = new Digest; val pdfText = new Digest
    for (lines <- Seq(Seq("lzw body", "zzzzzz"), Seq("alpha (x)", "zzzzzzzzzz run", "gamma \\ end"),
         (0 until 120).map(i => s"line $i word${i % 7} (k=${i % 13})"),
         (0 until 900).map(i => s"row $i ${"ab" * (i % 11)} ${i * 7919 % 1000}"))) {
      val b = Pdf.syntheticFilterPdf("1.4", lines, 3)
      pdf.bytes(b)
      Pdf.pagesOf(1L, b).foreach(p => pdfText.text(p.text))
    }
    assert(Seq(tiff.hex, tiffLuma.hex, pdf.hex, pdfText.hex) == Seq(
      "e30d5a6923084f93ba5ec62902de7dbf109b19e7053b10d6f2a27ffab2076d76",
      "89658a0108b3397816e911bd01b967a243c982bf8d1c69f372a2692f2ac18c74",
      "c1221bf52486deba73450ab073568eeb8e8dcf1af60055bb19040940924bf820",
      "652a9644379d500d51202a15c5aec9e9381d6dd39a91e24924c1fe064258faa3"))
  }
}
