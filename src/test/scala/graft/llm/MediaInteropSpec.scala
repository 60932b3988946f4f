package graft.llm

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{ImageIO, ImageWriteParam}

import org.scalatest.funsuite.AnyFunSuite

/** Cross-validation of the pure-JVM media codecs against the JDK's OWN
  * ImageIO plugins (java.desktop ships TIFF/PNG/GIF/BMP/JPEG readers and
  * writers) — an EXTERNAL oracle for the byte-level dialects, so an
  * internally-consistent-but-wrong implementation (the classic LZW
  * early-change off-by-one, a filter-order slip, a stride bug) cannot
  * hide behind its own roundtrip. Both directions run where the format
  * is lossless: our encoder's bytes must decode identically under
  * ImageIO, and ImageIO-written bytes must decode identically under our
  * decoder. For JPEG (lossy) the comparison is decoder-vs-decoder on the
  * SAME bytes. Test-only dependency on java.awt — src/main stays
  * AWT-free (executors should not need a display toolkit). */
class MediaInteropSpec extends AnyFunSuite {
  System.setProperty("java.awt.headless", "true")

  private def rng(seed: Long): () => Int = {
    var s = seed
    () => { s = s * 6364136223846793005L + 1442695040888963407L; ((s >>> 33) % 256).toInt }
  }

  private def grayImage(w: Int, h: Int, px: Array[Int]): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    for (y <- 0 until h; x <- 0 until w) r.setSample(x, y, 0, px(y * w + x))
    img
  }

  private def readGray(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO could not parse our bytes")
    val (w, h) = (img.getWidth, img.getHeight)
    val r = img.getRaster
    (w, h, Array.tabulate(w * h)(i => r.getSample(i % w, i / w, 0)))
  }

  private def imageioWrite(img: BufferedImage, format: String,
      compression: Option[String] = None): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName(format).next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    compression.foreach { c =>
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionType(c)
    }
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.flush(); writer.dispose()
    bos.toByteArray
  }

  // large enough that single-strip LZW crosses the 9→10→11-bit width
  // boundaries (one table add per byte step on noisy data)
  private val W = 200
  private val H = 60
  private val noisy: Array[Int] = { val r = rng(0x71FF7L); Array.fill(W * H)(r()) }
  // runs + structure so PackBits has real runs and LZW has real phrases
  private val runny: Array[Int] = Array.tabulate(W * H) { i =>
    val x = i % W; val y = i / W
    if ((x / 17) % 2 == 0) (y * 3) % 256 else (x % 5) * 40
  }

  for (comp <- Seq(1, 5, 32773, 8); px <- Seq(("noisy", noisy), ("runny", runny))) {
    val name = Map(1 -> "none", 5 -> "LZW", 32773 -> "PackBits", 8 -> "Deflate")(comp)
    test(s"TIFF $name/${px._1}: our encoder decodes identically under ImageIO") {
      val bytes = Tiff.syntheticTiffPixels(W, H, px._2, compression = comp,
        rowsPerStrip = if (comp == 5) H else 7)
      val (w2, h2, got) = readGray(bytes)
      assert((w2, h2) == (W, H))
      assert(got.sameElements(px._2))
    }
    test(s"TIFF $name/${px._1}: ImageIO-written bytes decode identically under ours") {
      // the JDK plugin names compression 8 "ZLib" (32946 is its "Deflate")
      val ioName = Map(1 -> None, 5 -> Some("LZW"), 32773 -> Some("PackBits"),
        8 -> Some("ZLib"))(comp)
      val bytes = imageioWrite(grayImage(W, H, px._2), "tiff", ioName)
      val Some((w2, h2, got)) = Tiff.decodeGray(bytes)
      assert((w2, h2) == (W, H))
      assert(got.sameElements(px._2))
    }
  }

  test("TIFF legacy Deflate (32946): ImageIO-written bytes decode under ours; predictor composes") {
    val bytes = imageioWrite(grayImage(W, H, runny), "tiff", Some("Deflate"))
    val Some((w2, h2, got)) = Tiff.decodeGray(bytes)
    assert((w2, h2) == (W, H))
    assert(got.sameElements(runny))
    // our writer: deflate + horizontal predictor + multi-strip + big-endian
    val ours = Tiff.syntheticTiffPixels(W, H, runny, compression = 8,
      predictor = 2, rowsPerStrip = 13, bigEndian = true)
    val (w3, h3, got3) = readGray(ours)
    assert((w3, h3) == (W, H))
    assert(got3.sameElements(runny))
    assert(Tiff.decodeGray(ours).get._3.sameElements(runny))
  }

  test("TIFF big-endian + multi-strip LZW + predictor: ImageIO reads ours") {
    val bytes = Tiff.syntheticTiffPixels(W, H, runny, compression = 5,
      predictor = 2, rowsPerStrip = 13, bigEndian = true)
    val (w2, h2, got) = readGray(bytes)
    assert((w2, h2) == (W, H))
    assert(got.sameElements(runny))
    // and our own decoder agrees on the same bytes
    assert(Tiff.decodeGray(bytes).get._3.sameElements(runny))
  }

  test("TIFF RGB (equal channels): both decoders land on the same luma") {
    val bytes = Tiff.syntheticTiffPixels(61, 47, noisy.take(61 * 47),
      compression = 5, rgb = true, rowsPerStrip = 11)
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    assert(img != null)
    val r = img.getRaster
    val band0 = Array.tabulate(61 * 47)(i => r.getSample(i % 61, i / 61, 0))
    assert(band0.sameElements(noisy.take(61 * 47))) // R channel is the value itself
    assert(Tiff.decodeGray(bytes).get._3.sameElements(noisy.take(61 * 47)))
  }

  test("PNG: our encoder under ImageIO, ImageIO's encoder under ours") {
    val px = noisy.take(61 * 47)
    val ours = Multimodal.syntheticPngPixels(61, 47, px, colorType = 2,
      rowFilters = Seq(1, 2, 3, 4, 0))
    val (w2, h2, got) = readGray(ours)
    assert((w2, h2, got.toSeq) == (61, 47, px.toSeq))
    val theirs = imageioWrite(grayImage(61, 47, px), "png")
    val Some((w3, h3, got3)) = Multimodal.decodePngGray(theirs)
    assert((w3, h3, got3.toSeq) == (61, 47, px.toSeq))
  }

  test("PNG round-12 layouts: palette/Adam7/16-bit cross-validate under ImageIO") {
    val px = noisy.take(61 * 47)
    // OUR writer's full knob space must decode identically under ImageIO
    // (palette goes through a PERMUTED table, so index-as-luma shortcuts
    // surface; 16-bit reads back as sample>>8; Adam7 at a size whose
    // passes are all ragged)
    for (ct <- Seq(0, 2, 3); il <- Seq(false, true)) {
      val bytes = Multimodal.syntheticPngPixels(61, 47, px, colorType = ct,
        rowFilters = Seq(3, 1, 4, 0, 2), interlaced = il)
      // palette images read through the colour model (the raw raster
      // sample is the palette INDEX, deliberately != gray here); gray/RGB
      // read raw raster samples (getRGB would colour-manage grayscale)
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      assert(img != null && (img.getWidth, img.getHeight) == (61, 47), s"ct=$ct il=$il")
      val got =
        if (ct == 3) Array.tabulate(61 * 47)(i => (img.getRGB(i % 61, i / 61) >> 16) & 0xFF)
        else Array.tabulate(61 * 47)(i => img.getRaster.getSample(i % 61, i / 61, 0))
      assert(got.sameElements(px), s"ct=$ct il=$il")
    }
    for (il <- Seq(false, true)) {
      val bytes = Multimodal.syntheticPngPixels(61, 47, px, colorType = 0,
        rowFilters = Seq(2, 4), interlaced = il, bitDepth = 16)
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      assert(img != null, s"16-bit il=$il")
      val r = img.getRaster
      val got = Array.tabulate(61 * 47)(i => r.getSample(i % 61, i / 61, 0) >> 8)
      assert(got.sameElements(px), s"16-bit il=$il")
    }
    // ImageIO's OWN palette writer (TYPE_BYTE_INDEXED) and its Adam7
    // progressive mode must decode identically under ours
    val pal = new java.awt.image.IndexColorModel(8, 256,
      Array.tabulate[Byte](256)(_.toByte), Array.tabulate[Byte](256)(_.toByte),
      Array.tabulate[Byte](256)(_.toByte))
    val palImg = new BufferedImage(61, 47, BufferedImage.TYPE_BYTE_INDEXED, pal)
    for (y <- 0 until 47; x <- 0 until 61) palImg.getRaster.setSample(x, y, 0, px(y * 61 + x))
    val theirsPal = imageioWrite(palImg, "png")
    assert(Multimodal.decodePngGray(theirsPal).map(_._3.toSeq).contains(px.toSeq),
      "ImageIO palette PNG under our decoder")
    // 1-bit palette (TYPE_BYTE_BINARY): sub-byte packed indices
    val binImg = new BufferedImage(61, 47, BufferedImage.TYPE_BYTE_BINARY)
    val bits = Array.tabulate(61 * 47)(i => if (px(i) >= 128) 1 else 0)
    for (y <- 0 until 47; x <- 0 until 61) binImg.getRaster.setSample(x, y, 0, bits(y * 61 + x))
    val theirsBin = imageioWrite(binImg, "png")
    val Some((_, _, gotBin)) = Multimodal.decodePngGray(theirsBin)
    assert(gotBin.toSeq == bits.map(_ * 255).toSeq, "1-bit packed PNG under our decoder")
    val writer = ImageIO.getImageWritersByFormatName("png").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    writer.write(null, new javax.imageio.IIOImage(grayImage(61, 47, px), null, null), p)
    ios.flush(); writer.dispose()
    val theirsAdam = bos.toByteArray
    assert((theirsAdam(28) & 0xFF) == 1, "ImageIO progressive PNG must flag Adam7")
    assert(Multimodal.decodePngGray(theirsAdam).map(_._3.toSeq).contains(px.toSeq),
      "ImageIO Adam7 PNG under our decoder")
  }

  test("GIF: our LZW under ImageIO, ImageIO's LZW under ours") {
    val px = noisy.take(61 * 47)
    val ours = Multimodal.syntheticGifPixels(61, 47, px, interlaced = true)
    val (w2, h2, got) = readGray(ours)
    assert((w2, h2, got.toSeq) == (61, 47, px.toSeq))
    val img = new BufferedImage(61, 47, BufferedImage.TYPE_BYTE_INDEXED,
      new java.awt.image.IndexColorModel(8, 256,
        Array.tabulate[Byte](256)(_.toByte), Array.tabulate[Byte](256)(_.toByte),
        Array.tabulate[Byte](256)(_.toByte)))
    for (y <- 0 until 47; x <- 0 until 61) img.getRaster.setSample(x, y, 0, px(y * 61 + x))
    val theirs = imageioWrite(img, "gif")
    val Some((w3, h3, got3)) = Multimodal.decodeGifGray(theirs)
    assert((w3, h3, got3.toSeq) == (61, 47, px.toSeq))
  }

  test("BMP: ImageIO reads our 24-bpp bytes; ours reads ImageIO's") {
    val px = noisy.take(61 * 47)
    val ours = Multimodal.syntheticBmpPixels(61, 47, px)
    val (w2, h2, got) = readGray(ours)
    assert((w2, h2, got.toSeq) == (61, 47, px.toSeq))
    val theirs = imageioWrite(grayImage(61, 47, px), "bmp")
    val Some((w3, h3, got3)) = Multimodal.decodeBmpGray(theirs)
    assert((w3, h3, got3.toSeq) == (61, 47, px.toSeq))
  }

  test("BMP OS/2 core header: ImageIO reads our 8-bit and 24-bpp core files") {
    val px = noisy.take(61 * 47)
    for (pal <- Seq(true, false)) {
      val bytes = Multimodal.syntheticBmpCore(61, 47, px, palettized = pal)
      val (w2, h2, got) = readGray(bytes)
      assert((w2, h2) == (61, 47), s"pal=$pal")
      assert(got.sameElements(px), s"pal=$pal")
      assert(Multimodal.decodeBmpGray(bytes).get._3.sameElements(px), s"pal=$pal")
    }
    // truncated core files reject cleanly
    val core = Multimodal.syntheticBmpCore(61, 47, px)
    assert(Multimodal.decodeBmpGray(core.take(30)).isEmpty)
    assert(Multimodal.decodeBmpGray(core.take(core.length - 9)).isEmpty)
  }

  test("JPEG: our DC-block encoder decodes bit-exactly under ImageIO") {
    // constant 8x8 blocks -> DC-only spectrum -> lossless through ANY
    // conformant baseline JPEG decoder, including the JDK's
    val w = 48; val h = 32
    val px = Array.tabulate(w * h) { i =>
      val bx = (i % w) / 8; val by = i / w / 8
      (bx * 29 + by * 41) % 200
    }
    val ours = Multimodal.syntheticJpegPixels(w, h, px)
    val img = ImageIO.read(new ByteArrayInputStream(ours))
    assert(img != null)
    val r = img.getRaster
    val got = Array.tabulate(w * h)(i => r.getSample(i % w, i / w, 0))
    assert(got.sameElements(px))
  }

  test("JPEG: our decoder agrees with ImageIO's on ImageIO-encoded bytes") {
    // lossy codec -> decoder-vs-decoder on the SAME bytes; constant
    // blocks keep the spectrum DC-only so conformant decoders agree
    // exactly (integer IDCT of a lone DC coefficient has no error term)
    val w = 48; val h = 32
    val px = Array.tabulate(w * h) { i =>
      val bx = (i % w) / 8; val by = i / w / 8
      (bx * 31 + by * 47) % 211
    }
    val theirs = imageioWrite(grayImage(w, h, px), "jpg")
    val img = ImageIO.read(new ByteArrayInputStream(theirs))
    val r = img.getRaster
    val jdk = Array.tabulate(w * h)(i => r.getSample(i % w, i / w, 0))
    val Some((w3, h3, ours)) = Multimodal.decodeJpegGray(theirs)
    assert((w3, h3) == (w, h))
    assert(ours.sameElements(jdk))
  }

  test("progressive JPEG 4:2:0: our decoder agrees with ImageIO's own progressive encoding") {
    // the JDK writer in progressive mode emits the IJG standard scan
    // script (interleaved DC at Al=1, per-component spectral-split AC
    // passes, multi-level refinement) with 2x2/1x1/1x1 sampling for
    // color — the exact web layout the round-12 decoder extension
    // targets. 40x24 is NOT a multiple of the 16-pixel MCU, so the
    // T.81 A.2.4 padded stride is load-bearing. Gray content through a
    // COLOR image keeps chroma neutral and blocks DC-only, where
    // decoder-vs-decoder comparison is exact (lone-DC IDCT:
    // floor((d+4)/8) in both integer and double forms).
    val w = 40; val h = 24
    val px = Array.tabulate(w * h) { i =>
      val bx = (i % w) / 8; val by = i / w / 8
      (bx * 37 + by * 53) % 199
    }
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val g = px(y * w + x)
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.flush(); writer.dispose()
    val bytes = bos.toByteArray
    // confirm the wire really is SOF2 with 4:2:0 luma — otherwise this
    // test silently stops exercising the subsampled path
    var pos = 2; var sof2At = -1
    while (sof2At < 0 && pos + 4 <= bytes.length) {
      val m = bytes(pos + 1) & 0xFF
      assert((bytes(pos) & 0xFF) == 0xFF, "marker walk desynced")
      if (m == 0xC2) sof2At = pos
      // SOF0..SOF15 minus DHT(C4)/JPG(C8)/DAC(CC): any other frame type
      // means the JDK did not write progressive Huffman
      else if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC)
        fail(f"hit SOF marker FF$m%02X before SOF2")
      else {
        val len = ((bytes(pos + 2) & 0xFF) << 8) | (bytes(pos + 3) & 0xFF)
        pos += 2 + len
      }
    }
    assert(sof2At > 0, "JDK progressive write must emit SOF2")
    assert((bytes(sof2At + 11) & 0xFF) == 0x22, "JDK color default must be 4:2:0 luma")
    val jdkImg = ImageIO.read(new ByteArrayInputStream(bytes))
    val jdk = Array.tabulate(w * h)(i => (jdkImg.getRGB(i % w, i / w) >> 16) & 0xFF)
    val Some((w2, h2, ours)) = Multimodal.decodeJpegGray(bytes)
    assert((w2, h2) == (w, h))
    assert(ours.sameElements(jdk), {
      val diffs = ours.indices.filter(i => ours(i) != jdk(i))
      s"${diffs.length} luma mismatches, first at ${diffs.headOption}"
    })
  }

  test("TIFF WhiteIsZero: inverted storage decodes back, under both decoders") {
    val px = noisy.take(61 * 47)
    val bytes = Tiff.syntheticTiffPixels(61, 47, px, compression = 32773,
      rowsPerStrip = 9, photoZero = true)
    assert(Tiff.decodeGray(bytes).get._3.sameElements(px))
    val (w2, h2, got) = readGray(bytes) // ImageIO applies the same inversion
    assert((w2, h2) == (61, 47))
    assert(got.sameElements(px))
  }

  // ---- round 13: tiled layout (TIFF 6.0 §15) and 16-bit grayscale ----

  private def imageioWriteTiled(img: BufferedImage, tw: Int, th: Int,
      compression: Option[String] = None): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("tiff").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setTilingMode(ImageWriteParam.MODE_EXPLICIT)
    p.setTiling(tw, th, 0, 0)
    compression.foreach { c =>
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionType(c)
    }
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.flush(); writer.dispose()
    bos.toByteArray
  }

  test("TIFF tiled: ImageIO reads our tiles; ours reads ImageIO's tiles (non-aligned edges)") {
    // 61x47 with 16x16 tiles: both edges force padded partial tiles
    val px = noisy.take(61 * 47)
    for (comp <- Seq(1, 5, 32773, 8)) {
      val ours = Tiff.syntheticTiffPixels(61, 47, px, compression = comp, tileSize = 16)
      assert(Tiff.decodeGray(ours).get._3.sameElements(px), s"self comp=$comp")
      val (w2, h2, got) = readGray(ours)
      assert((w2, h2) == (61, 47) && got.sameElements(px), s"ImageIO reads ours comp=$comp")
    }
    for (ioComp <- Seq(None, Some("LZW"), Some("PackBits"), Some("ZLib"))) {
      val theirs = imageioWriteTiled(grayImage(61, 47, px), 32, 16, ioComp)
      val Some((w3, h3, got3)) = Tiff.decodeGray(theirs)
      assert((w3, h3) == (61, 47) && got3.sameElements(px), s"ours reads ImageIO $ioComp")
    }
  }

  test("TIFF tiled + predictor + big-endian: both decoders agree") {
    val px = runny.take(61 * 47)
    val ours = Tiff.syntheticTiffPixels(61, 47, px, compression = 5,
      predictor = 2, bigEndian = true, tileSize = 16)
    assert(Tiff.decodeGray(ours).get._3.sameElements(px))
    val (w2, h2, got) = readGray(ours)
    assert((w2, h2) == (61, 47) && got.sameElements(px))
  }

  private def gray16Image(w: Int, h: Int, px: Array[Int]): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
    val r = img.getRaster
    for (y <- 0 until h; x <- 0 until w) r.setSample(x, y, 0, px(y * w + x) * 257)
    img
  }

  test("TIFF 16-bit grayscale: both directions, both byte orders, WhiteIsZero") {
    val px = noisy.take(61 * 47)
    for (be <- Seq(false, true); comp <- Seq(1, 8)) {
      val ours = Tiff.syntheticTiffPixels(61, 47, px, compression = comp,
        bigEndian = be, bits16 = true)
      assert(Tiff.decodeGray(ours).get._3.sameElements(px), s"self be=$be comp=$comp")
      // ImageIO reads the full 16-bit samples: g·257 exactly
      val img = ImageIO.read(new ByteArrayInputStream(ours))
      assert(img != null && img.getWidth == 61)
      val r = img.getRaster
      for (i <- 0 until 61 * 47)
        assert(r.getSample(i % 61, i / 61, 0) == px(i) * 257, s"sample $i be=$be")
    }
    // ImageIO's own USHORT_GRAY writer → our high-byte reduction
    for (ioComp <- Seq(None, Some("LZW"), Some("ZLib"))) {
      val theirs = imageioWrite(gray16Image(61, 47, px), "tiff", ioComp)
      val Some((w2, h2, got)) = Tiff.decodeGray(theirs)
      assert((w2, h2) == (61, 47) && got.sameElements(px), s"16-bit from ImageIO $ioComp")
    }
    // 16-bit WhiteIsZero: stored inverse, high byte still reduces right
    val inv = Tiff.syntheticTiffPixels(61, 47, px, bits16 = true, photoZero = true)
    assert(Tiff.decodeGray(inv).get._3.sameElements(px))
    // 16-bit + tiles compose
    val tiled16 = Tiff.syntheticTiffPixels(61, 47, px, compression = 8,
      bits16 = true, tileSize = 16, bigEndian = true)
    assert(Tiff.decodeGray(tiled16).get._3.sameElements(px))
    val tiled16Io = imageioWriteTiled(gray16Image(61, 47, px), 32, 16, Some("LZW"))
    assert(Tiff.decodeGray(tiled16Io).get._3.sameElements(px), "ImageIO tiled 16-bit")
  }

  test("animated GIF: ImageIO reads every frame of ours identically") {
    val w = 23; val h = 17
    val frames = (0 until 9).map { f =>
      Array.tabulate(w * h)(i => (i * 7 + f * 53) % 256)
    }
    val bytes = Multimodal.syntheticGifAnimated(w, h, frames, interlaceAlt = true)
    val reader = ImageIO.getImageReadersByFormatName("gif").next()
    reader.setInput(ImageIO.createImageInputStream(new ByteArrayInputStream(bytes)))
    assert(reader.getNumImages(true) == 9)
    for (f <- 0 until 9) {
      val img = reader.read(f)
      val r = img.getRaster
      val got = Array.tabulate(w * h)(i => r.getSample(i % w, i / w, 0))
      assert(got.sameElements(frames(f)), s"frame $f")
    }
    reader.dispose()
    // and our sampled decoder agrees with itself on the same bytes
    val Some((w2, h2, sampled)) = Multimodal.decodeGifFramesSampled(bytes, 9)
    assert((w2, h2) == (w, h) && sampled.length == 9)
    sampled.foreach { case (fi, luma) => assert(luma.sameElements(frames(fi))) }
  }

  test("animated GIF: sampling decodes only floor(i*n/k) frames; partial frames stop the walk") {
    val w = 12; val h = 10
    val frames = (0 until 10).map(f => Array.fill(w * h)(f * 20))
    val bytes = Multimodal.syntheticGifAnimated(w, h, frames)
    val Some((_, _, sampled)) = Multimodal.decodeGifFramesSampled(bytes, 4)
    assert(sampled.map(_._1) == Seq(0, 2, 5, 7)) // floor(i*10/4)
    sampled.foreach { case (fi, luma) => assert(luma.sameElements(frames(fi))) }
    // corrupt the SECOND image descriptor's left-position → partial frame
    // → honest prefix of one frame (first frame still decodes)
    var pos = 13 + 3 * 256 // header + global table
    pos += 8 // graphic-control extension: 0x21 0xF9 4 <4 bytes> 0
    // skip first image: descriptor(10) + minCode + subblocks
    def skipImage(p0: Int): Int = {
      var p = p0 + 10 + 1
      while (bytes(p) != 0) p += 1 + (bytes(p) & 0xFF)
      p + 1
    }
    val afterFirst = skipImage(pos)
    val secondDesc = afterFirst + 8 // its graphic-control extension
    assert((bytes(secondDesc) & 0xFF) == 0x2C)
    val mangled = bytes.clone(); mangled(secondDesc + 1) = 1 // left = 1
    val Some((_, _, prefix)) = Multimodal.decodeGifFramesSampled(mangled, 4)
    assert(prefix.map(_._1) == Seq(0))
    // truncation inside a frame's data: never throws
    assert(Multimodal.decodeGifFramesSampled(bytes.take(bytes.length / 2), 4).isDefined ||
      Multimodal.decodeGifFramesSampled(bytes.take(bytes.length / 2), 4).isEmpty)
  }

  test("animated GIF deltas: ImageIO parses our sub-rects, disposal, and transparency metadata") {
    // external validation of the WIRE format the compositor fixture
    // emits: the JDK's GIF reader must see the same rect offsets,
    // disposal methods, transparency flag, and per-frame index rasters
    val frames = Seq(
      (0, 0, 12, 10, Array.tabulate(120)(i => (i * 3) % 255 min 254), 0),
      (3, 2, 5, 4, Array.tabulate(20)(i => if (i % 4 == 1) -1 else 60 + i), 2),
      (1, 5, 6, 3, Array.fill(18)(90), 3))
    val bytes = Multimodal.syntheticGifAnimatedDeltas(12, 10, frames, bgIndex = 7)
    val reader = ImageIO.getImageReadersByFormatName("gif").next()
    reader.setInput(ImageIO.createImageInputStream(new ByteArrayInputStream(bytes)))
    assert(reader.getNumImages(true) == 3)
    val expectDisposal = Seq("none", "restoreToBackgroundColor", "restoreToPrevious")
    for (f <- 0 until 3) {
      val (l, t, w, h, px, _) = frames(f)
      val md = reader.getImageMetadata(f)
        .getAsTree("javax_imageio_gif_image_1.0").asInstanceOf[org.w3c.dom.Element]
      val desc = md.getElementsByTagName("ImageDescriptor").item(0)
        .asInstanceOf[org.w3c.dom.Element]
      assert(desc.getAttribute("imageLeftPosition").toInt == l, s"frame $f left")
      assert(desc.getAttribute("imageTopPosition").toInt == t, s"frame $f top")
      assert(desc.getAttribute("imageWidth").toInt == w && desc.getAttribute("imageHeight").toInt == h)
      val gce = md.getElementsByTagName("GraphicControlExtension").item(0)
        .asInstanceOf[org.w3c.dom.Element]
      assert(gce.getAttribute("disposalMethod") == expectDisposal(f), s"frame $f disposal")
      assert(gce.getAttribute("transparentColorFlag").toBoolean == px.contains(-1))
      // raw raster = palette indices of the SUB-RECT only
      val img = reader.read(f)
      assert((img.getWidth, img.getHeight) == (w, h))
      val r = img.getRaster
      val got = Array.tabulate(w * h)(i => r.getSample(i % w, i / w, 0))
      assert(got.sameElements(px.map(v => if (v == -1) 255 else v)), s"frame $f indices")
    }
    reader.dispose()
  }

  test("WAV: javax.sound reads our int16 bytes back to the same samples") {
    // the audio sibling of the ImageIO checks: the JDK's own RIFF/WAVE
    // reader is the external oracle for the WAV writer+decoder pair
    val samples = Array.tabulate(1950) { j => ((j * 31 + 7) % 4001) - 2000 }
    val bytes = Multimodal.syntheticWavPcm(8000, samples)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate == 8000f && fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16)
    val raw = ais.readAllBytes()
    val got = Array.tabulate(samples.length) { i =>
      ((raw(2 * i) & 0xFF) | (raw(2 * i + 1) << 8)).toShort.toInt // little-endian int16
    }
    assert(got.sameElements(samples))
    // and our decoder agrees with itself on the same bytes
    assert(Multimodal.decodeWavPcm(bytes).get._3.sameElements(samples))
  }

  test("AIFF: javax.sound reads ours; ours reads javax.sound's") {
    val samples = Array.tabulate(1950) { j => ((j * 31 + 13) % 4001) - 2000 }
    val ours = Multimodal.syntheticAiff(8000, samples)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(ours))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate == 8000f && fmt.getChannels == 1 &&
      fmt.getSampleSizeInBits == 16 && fmt.isBigEndian)
    val raw = ais.readAllBytes()
    val got = Array.tabulate(samples.length)(i =>
      ((raw(2 * i) << 8) | (raw(2 * i + 1) & 0xFF)))
    assert(got.sameElements(samples))
    assert(Multimodal.decodeAiffPcm(ours).get._3.sameElements(samples))
    // and the reverse: the JDK writes an AIFF, our decoder reads it
    val srcFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val pcm = new Array[Byte](samples.length * 2)
    for (i <- samples.indices) { pcm(2 * i) = (samples(i) >> 8).toByte; pcm(2 * i + 1) = samples(i).toByte }
    val src = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(pcm), srcFmt, samples.length.toLong)
    val bos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(src,
      javax.sound.sampled.AudioFileFormat.Type.AIFF, bos)
    val Some((rate, ch, mono)) = Multimodal.decodeAiffPcm(bos.toByteArray)
    assert((rate, ch) == (8000, 1))
    assert(mono.sameElements(samples))
  }

  test("AIFF-C: javax.sound reads our NONE form; sowt byte-swap decodes to identical samples") {
    val samples = Array.tabulate(1950) { j => ((j * 29 + 11) % 4001) - 2000 }
    // "NONE" is plain big-endian PCM in the AIFC wrapper — the JDK reads it
    val none = Multimodal.syntheticAifc(8000, samples, "NONE")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(none))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate == 8000f && fmt.getChannels == 1 &&
      fmt.getSampleSizeInBits == 16 && fmt.isBigEndian)
    val raw = ais.readAllBytes()
    val got = Array.tabulate(samples.length)(i =>
      ((raw(2 * i) << 8) | (raw(2 * i + 1) & 0xFF)))
    assert(got.sameElements(samples))
    // the JDK lacks sowt/twos support (UnsupportedAudioFileException) —
    // for those the check is the cross-encoding contract: every AIFC
    // form must decode to EXACTLY the samples of the plain-AIFF bytes
    for (ct <- Seq("NONE", "twos", "sowt")) {
      val bytes = Multimodal.syntheticAifc(8000, samples, ct)
      val Some((rate, ch, mono)) = Multimodal.decodeAiffPcm(bytes)
      assert((rate, ch) == (8000, 1), ct)
      assert(mono.sameElements(samples), s"$ct must land on the AIFF samples")
    }
    assert(!Multimodal.syntheticAifc(8000, samples, "sowt")
      .sameElements(Multimodal.syntheticAifc(8000, samples, "twos")),
      "sowt bytes must actually be swapped")
    // a lossy AIFC compression type rejects instead of decoding garbage
    val ima = Multimodal.syntheticAifc(8000, samples, "NONE")
    val imaIdx = ima.indices.find(i => ima(i) == 'N' && ima(i + 1) == 'O' &&
      ima(i + 2) == 'N' && ima(i + 3) == 'E').get
    val mangled = ima.clone()
    mangled(imaIdx) = 'i'; mangled(imaIdx + 1) = 'm'
    mangled(imaIdx + 2) = 'a'; mangled(imaIdx + 3) = '4'
    assert(Multimodal.decodeAiffPcm(mangled).isEmpty, "lossy AIFC types are out of scope")
  }

  test("AU mu-law: our expansion law matches the JDK's G.711 decode byte for byte") {
    // every one of the 256 code points, through a real AU container
    val codes = Array.tabulate[Byte](256)(_.toByte)
    val au = Multimodal.syntheticAu(8000, 1, codes)
    val ulaw = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(au))
    val pcmFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, ulaw)
    val raw = pcm.readAllBytes()
    val jdk = Array.tabulate(256)(i => ((raw(2 * i) << 8) | (raw(2 * i + 1) & 0xFF)))
    val ours = codes.map(Multimodal.ulaw2linear)
    assert(ours.sameElements(jdk))
    // and the AU PCM walk agrees end-to-end
    assert(Multimodal.decodeAuPcm(au).get._3.sameElements(ours))
  }

  test("AU A-law: our expansion law matches the JDK's G.711 decode byte for byte") {
    val codes = Array.tabulate[Byte](256)(_.toByte)
    val au = Multimodal.syntheticAu(8000, 27, codes)
    val alaw = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(au))
    val pcmFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, alaw)
    val raw = pcm.readAllBytes()
    val jdk = Array.tabulate(256)(i => ((raw(2 * i) << 8) | (raw(2 * i + 1) & 0xFF)))
    val ours = codes.map(Multimodal.alaw2linear)
    assert(ours.sameElements(jdk))
    assert(Multimodal.decodeAuPcm(au).get._3.sameElements(ours))
  }

  test("WAV G.711: both telephony laws decode byte-for-byte like javax.sound") {
    val codes = Array.tabulate[Byte](256)(_.toByte)
    for ((tag, law) <- Seq((6, Multimodal.alaw2linear _), (7, Multimodal.ulaw2linear _))) {
      val wav = Multimodal.syntheticWavG711(8000, tag, codes)
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(wav))
      val pcmFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
      val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(pcmFmt, in)
      val raw = pcm.readAllBytes()
      val jdk = Array.tabulate(256)(i => ((raw(2 * i) << 8) | (raw(2 * i + 1) & 0xFF)))
      val ours = codes.map(law)
      assert(ours.sameElements(jdk), s"tag=$tag")
      val (rate, ch, samples) = Multimodal.decodeWavPcm(wav).get
      assert((rate, ch) == (8000, 1) && samples.sameElements(ours), s"tag=$tag")
    }
  }

  test("AU big-endian int16: javax.sound's writer round-trips through our decoder") {
    val samples = Array.tabulate(600) { j => ((j * 77 + 5) % 4001) - 2000 }
    val pcm = new Array[Byte](samples.length * 2)
    for (i <- samples.indices) { pcm(2 * i) = (samples(i) >> 8).toByte; pcm(2 * i + 1) = samples(i).toByte }
    val srcFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val src = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(pcm), srcFmt, samples.length.toLong)
    val bos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(src,
      javax.sound.sampled.AudioFileFormat.Type.AU, bos)
    val Some((rate, ch, mono)) = Multimodal.decodeAuPcm(bos.toByteArray)
    assert((rate, ch) == (8000, 1))
    assert(mono.sameElements(samples))
  }

  test("TIFF corrupt inputs return None, never throw") {
    val good = Tiff.syntheticTiffPixels(W, H, runny, compression = 5, rowsPerStrip = H)
    assert(Tiff.decodeGray(good.take(40)).isEmpty)             // truncated mid-IFD-pointerward
    assert(Tiff.decodeGray(good.take(good.length - 7)).isEmpty) // truncated IFD tail
    assert(Tiff.decodeGray(Array[Byte]('I', 'I', 42, 0)).isEmpty)
    assert(Tiff.decodeGray(null).isEmpty)
    val zeroIfd = good.clone(); zeroIfd(4) = 0; zeroIfd(5) = 0; zeroIfd(6) = 0; zeroIfd(7) = 0
    assert(Tiff.decodeGray(zeroIfd).isEmpty)
  }
}
