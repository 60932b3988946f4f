package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{Ann, Dedup, Hashing, Ivf, Multimodal, Nsw, Pq, Retrieval}
import graft.ops.Temporal
import graft.storage.FileStorage
import graft.streaming.IncrementalJoin
import graft.streams.ZSet

/** Scale-up probe behind SCALING.md's measured table: replicates the
  * documents/embeddings corpora N× (ids offset per copy, text perturbed so
  * cross-copy pairs are NEAR-dups, not exact dups) and times the operators
  * whose scaling curve the design claims. Re-run after any change to
  * those operators:
  *
  *   java -cp ... graft.ScaleProbe <sfDir> [factors...]     (default 1 4 10)
  *
  * Every workload is one row of the `sweep` table, run once per factor,
  * plus the factor-independent XL rows of `fixed`, run once at factor 0.
  * `SPARK_GRAFT_ONLY=w1,w2` restricts the run to the named rows, as it
  * does for Bench's queries. Prints one JSON line per (factor, workload).
  * Timings are end-to-end action times (count or small aggregate), not
  * plan-build times; each workload's untimed setup runs first.
  */
object ScaleProbe {

  // Planted-twin MEDIA generators for the round-11 media curves: the
  // local id (id % 1e6) keys the same pseudorandom content in EVERY
  // replica copy, and the copy index perturbs one corner block / first
  // audio frame / one video frame — so cross-copy twins sit at Hamming
  // ≤ 1 (resp. share ≥ 11 of 12 frame hashes) and pair volume grows
  // ~C(f,2)·|locals| with the factor while unrelated locals (pseudo-
  // random splitmix content) almost never collide. Rendering the real
  // BMP/WAV/Y4M container is PART of the timed map stage, exactly like
  // decode — bytes never shuffle either way.
  private def probeImageMedia(id: Long): graft.llm.Multimodal.Media = {
    import graft.llm.{Hashing, Multimodal}
    val local = id % 1000000L
    val variant = ((id / 1000000L) % 3L).toInt
    val w = 18; val h = 16
    val gray = Array.tabulate(w * h) { i =>
      val base = (Hashing.splitmix64(local * 288L + i) & 0x7FL).toInt
      val delta = if (i % w < 2 && i / w < 2) variant * 40 else 0
      base + delta
    }
    Multimodal.Media(id, Multimodal.syntheticBmpPixels(w, h, gray), "image/bmp")
  }

  private def probeAudioMedia(id: Long): graft.llm.Multimodal.Media = {
    import graft.llm.{Hashing, Multimodal}
    val local = id % 1000000L
    val variant = ((id / 1000000L) % 3L).toInt
    val samples = Array.tabulate(1950) { j =>
      val s = (((Hashing.splitmix64(local * 1950L + j) % 4001L) + 4001L) % 4001L - 2000L).toInt
      if (j < 30) s + variant * 500 else s
    }
    Multimodal.Media(id, Multimodal.syntheticWavPcm(8000, samples), "audio/wav")
  }

  private def probeVideoMedia(id: Long): graft.llm.Multimodal.Media = {
    import graft.llm.{Hashing, Multimodal}
    val local = id % 1000000L
    val variant = ((id / 1000000L) % 3L).toInt
    val w = 18; val h = 16
    val frames = (0 until 12).map { f =>
      Array.tabulate(w * h) { i =>
        val base = (Hashing.splitmix64((local * 12L + f) * 288L + i) & 0x7FL).toInt
        val delta = if (f == variant * 4 && i % w < 2 && i / w < 2) 40 else 0
        base + delta
      }
    }
    Multimodal.Media(id, Multimodal.syntheticY4m(w, h, frames), "video/x-yuv4mpeg")
  }

  // Round-12 codec-wave fixtures: the same planted-twin content rendered
  // through the EXPENSIVE decode paths the r11 wave added (PNG inflate,
  // GIF LZW, baseline + progressive JPEG, TIFF-LZW, FLAC, IMA/MS ADPCM,
  // G.711, AIFF/AU). These rows time the HASH MAP STAGE only — the
  // decode claim under test is per-row CPU, flat across the decade,
  // with zero shuffle growth (the pair math is already pinned by the
  // lossless rows above). Image content is block-constant so JPEG stays
  // DC-dominated; the coded-formula G.711 paths are stateless decodes
  // where formula bytes are safe.
  private[graft] def probeImageCrossMedia(id: Long): graft.llm.Multimodal.Media = {
    import graft.llm.{Hashing, Multimodal, Tiff}
    val local = id % 1000000L
    val variant = ((id / 1000000L) % 3L).toInt
    val w = 24; val h = 16
    val gray = Array.tabulate(w * h) { i =>
      val bx = (i % w) / 8; val by = i / w / 8
      val base = (Hashing.splitmix64(local * 6L + by * 3L + bx) & 0xBFL).toInt
      if (bx == 0 && by == 0) base + variant * 12 else base
    }
    (local % 6) match {
      case 0 => Multimodal.Media(id, Multimodal.syntheticBmpPixels(w, h, gray), "image/bmp")
      case 1 => Multimodal.Media(id,
        Multimodal.syntheticPngPixels(w, h, gray, colorType = 2,
          rowFilters = Seq(((local % 5) + 1).toInt % 5, (local % 5).toInt)), "image/png")
      case 2 => Multimodal.Media(id,
        Multimodal.syntheticGifPixels(w, h, gray, interlaced = local % 4 == 2), "image/gif")
      case 3 => Multimodal.Media(id, Multimodal.syntheticJpegPixels(w, h, gray), "image/jpeg")
      case 4 => Multimodal.Media(id,
        Tiff.syntheticTiffPixels(w, h, gray, compression = 5, predictor = 2,
          rowsPerStrip = 6, bigEndian = local % 2 == 0), "image/tiff")
      case _ => Multimodal.Media(id,
        Multimodal.syntheticJpegProgressive(w, h, gray), "image/jpeg")
    }
  }

  private def probeAudioCrossMedia(id: Long): graft.llm.Multimodal.Media = {
    import graft.llm.{Flac, Hashing, Multimodal}
    val local = id % 1000000L
    val variant = ((id / 1000000L) % 3L).toInt
    val samples = Array.tabulate(1950) { j =>
      val s = (((Hashing.splitmix64(local * 1950L + j) % 4001L) + 4001L) % 4001L - 2000L).toInt
      if (j < 30) s + variant * 500 else s
    }
    def codedBytes(n: Int): Array[Byte] =
      Array.tabulate[Byte](n)(j => (Hashing.splitmix64(local * 31L + j) & 0xFFL).toByte)
    (local % 8) match {
      case 0 => Multimodal.Media(id, Multimodal.syntheticWavPcm(8000, samples), "audio/wav")
      case 1 => Multimodal.Media(id, Multimodal.syntheticWav(8000, samples, "float32"), "audio/wav")
      case 2 => Multimodal.Media(id,
        Flac.synthetic(8000, samples, blockSize = 256, strategy = "fixed2"), "audio/flac")
      case 3 => Multimodal.Media(id, Multimodal.syntheticAiff(8000, samples), "audio/aiff")
      case 4 => Multimodal.Media(id,
        Multimodal.syntheticAu(8000, if (local % 2 == 0) 1 else 27, codedBytes(1950)),
        "audio/basic")
      case 5 => Multimodal.Media(id,
        Multimodal.syntheticWavG711(8000, if (local % 2 == 0) 6 else 7, codedBytes(1950)),
        "audio/wav")
      case 6 => Multimodal.Media(id,
        Multimodal.syntheticWavAdpcm(8000, 1, samples, blockAlign = 256), "audio/wav")
      case _ => Multimodal.Media(id,
        Multimodal.syntheticWavAdpcmMs(8000, 1, samples), "audio/wav")
    }
  }

  private def probeVideoCrossMedia(id: Long): graft.llm.Multimodal.Media = {
    import graft.llm.{Hashing, Multimodal}
    val local = id % 1000000L
    val variant = ((id / 1000000L) % 3L).toInt
    val w = 18; val h = 16
    val frames = (0 until 12).map { f =>
      Array.tabulate(w * h) { i =>
        val base = (Hashing.splitmix64((local * 12L + f) * 288L + i) & 0x7FL).toInt
        if (f == variant * 4 && i % w < 2 && i / w < 2) base + 40 else base
      }
    }
    if (local % 2 == 0)
      Multimodal.Media(id, Multimodal.syntheticY4m(w, h, frames), "video/x-yuv4mpeg")
    else if (local % 4 == 1)
      Multimodal.Media(id, Multimodal.syntheticGifAnimated(w, h, frames), "video/gif")
    else {
      // DELTA-encoded GIF (round 12): keyframe + sub-rect deltas, so the
      // probe times the COMPOSITOR chain path, not just per-frame LZW
      val deltas = (0, 0, w, h, frames.head.map(v => v min 254), 0) +:
        (1 until frames.size).map { f =>
          (4, 3, 8, 6, Array.tabulate(48) { i =>
            frames(f)((3 + i / 8) * w + (4 + i % 8)) min 254
          }, 0)
        }
      Multimodal.Media(id, Multimodal.syntheticGifAnimatedDeltas(w, h, deltas), "video/gif")
    }
  }

  // Round-13 ADVERSARIAL compositor shape: the r12 delta probe used short
  // chains; this one is built to hit the documented worst case head-on —
  // EVERY frame after the keyframe is a sub-rect delta (so no chain-skip
  // anchor exists past frame 0), disposal-3 on every other frame (each
  // one costs a full-canvas snapshot + restore), and sparse sampling
  // (sampleFrames=4) whose last sample sits at the chain TAIL. The
  // compositor walks the needed-set union forward ONCE, so per-video CPU
  // must be ∝ total frames (one decode each + the snapshot copies), NOT
  // ∝ samples × chain length — the chain24 vs chain96 pair at the same
  // corpus factor pins the linear-in-duration bound with data.
  private def probeVideoAdversarialMedia(nFrames: Int)(id: Long): graft.llm.Multimodal.Media = {
    import graft.llm.{Hashing, Multimodal}
    val local = id % 1000000L
    val w = 18; val h = 16
    val key = Array.tabulate(w * h)(i => (Hashing.splitmix64(local * 288L + i) & 0x7FL).toInt)
    val deltas = (0, 0, w, h, key, 0) +: (1 until nFrames).map { f =>
      (4, 3, 8, 6, Array.tabulate(48) { i =>
        (Hashing.splitmix64((local * nFrames + f) * 48L + i) & 0x7FL).toInt
      }, if (f % 2 == 0) 3 else 0)
    }
    Multimodal.Media(id, Multimodal.syntheticGifAnimatedDeltas(w, h, deltas), "video/gif")
  }

  // Round-13 admission-layer probes: the structural container walks and
  // WARC ingestion are pure map/flatMap kernels, so the expectation is
  // wall-clock linear in corpus size with no shuffle; rendering the
  // synthetic container inside the timed map stands in for scan I/O.
  private def probeWebpMedia(id: Long): graft.llm.Multimodal.Media = {
    val fmt = Seq("lossy", "lossless", "extended")((id % 3).toInt)
    graft.llm.Multimodal.Media(id, graft.llm.Containers.syntheticWebp(
      fmt, (64 + id % 300).toInt, (48 + id % 200).toInt,
      alpha = fmt != "lossy" && id % 2 == 0,
      animFrames = if (fmt == "extended" && id % 4 == 2) 3 else 0,
      frameLen = i => (40 + (id + i) % 60).toInt, fillLen = (200 + id % 99).toInt,
      alphaLen = 30, exifLen = if (id % 5 == 0) 25 else 0), "image/webp")
  }
  private def probeMkvMedia(id: Long): graft.llm.Multimodal.Media =
    graft.llm.Multimodal.Media(id, graft.llm.Containers.syntheticMkv(
      (320 + id % 640).toInt, (180 + id % 360).toInt,
      durationTicks = (300 + id % 400).toDouble, timestampScale = 1000000L,
      writeScale = id % 7 != 0, audioTrack = id % 3 == 0, swapOrder = id % 6 == 3,
      nClusters = (2 + id % 3).toInt, blocksPerCluster = ci => (2 + (id + ci) % 3).toInt,
      blockLen = (ci, j) => (30 + (id + ci * 5 + j * 3) % 60).toInt,
      videoCodec = "V_VP9",
      segSizeMode = if (id % 5 == 2) 1 else if (id % 5 == 3) 2 else 0), "video/webm")
  private def probeWarcMedia(id: Long): graft.llm.Multimodal.Media = {
    // ~2 KB html bodies: a realistic page-weight stand-in so the timed
    // row includes gunzip + header walk + extraction over real volume
    val filler = ("<p>" + ("lorem ipsum dolor sit amet " * 12) + "</p>") * 6
    graft.llm.Multimodal.Media(id, graft.llm.Warc.syntheticWarc(
      nResponses = 3,
      uri = i => s"https://probe/$id/$i",
      status = i => if ((id + i) % 4 == 0) (404, "Not Found") else (200, "OK"),
      htmlBody = i => s"<html><head><title>P$id-$i</title><script>var x=1;" +
        s"</script></head><body><h1>H ${(id + i) % 97}</h1>$filler</body></html>",
      gzipped = id % 2 == 1, withRequests = id % 3 == 0,
      lowerCaseHeaders = false, infoLen = 20), "application/warc")
  }

  // round-13 document-router probe: one blob per doc cycling the seven
  // router formats, bodies sized like short real documents (the pdf
  // slice renders 3 flate-compressed pages so the inflate path is in
  // the timed stage).
  private def probeDocMedia(id: Long): graft.llm.Multimodal.Media = {
    import graft.llm.{Docs, Hashing, Mail, Pdf}
    val local = id % 1000000L
    def para(j: Int): String = (0 until 30).map(w =>
      s"w${Hashing.splitmix64(local * 53L + j * 7L + w) & 0xFFL}").mkString(" ")
    val bytes: Array[Byte] = (local % 7L).toInt match {
      case 0 => Pdf.syntheticPdf("1.5", p => Seq(para(p), para(p + 3)), 3,
        (local % 4L).toInt, octalAll = false, flate = _ => true, filterArray = false,
        twoStreams = _ => false, indirectLength = false, outOfOrder = false,
        nested = false, encrypted = false)
      case 1 => Docs.syntheticDocx(Seq(Seq(para(0)), Seq(para(1), para(2))),
        storedParts = local % 2 == 0)
      case 2 => Docs.syntheticEpub(
        (0 until 2).map(k => (s"c$k.xhtml", s"<html><body><p>${para(k)}</p></body></html>")),
        Seq(1, 0), None)
      case 3 => Mail.syntheticMbox(Seq(Mail.syntheticMessage(
        "a@x", "b@x c@x", s"S $local", para(0) + "\n" + para(1),
        (local % 5L).toInt, (local % 3L).toInt, foldTo = local % 2 == 0)))
      case 4 => s"<html><body><p>${para(0)}</p><p>${para(1)}</p></body></html>"
        .getBytes("UTF-8")
      case 5 => (s"\\documentclass{article}\n\\begin{document}\n\\section{${para(0).take(40)}}\n" +
        s"${para(1)}\n$$x_{$local}$$\n${para(2)}\n\\end{document}\n").getBytes("UTF-8")
      case _ =>
        val plain = s"<!DOCTYPE html><html><body><p>${para(0)}</p></body></html>"
          .getBytes("UTF-8")
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(plain); gz.close()
        bos.toByteArray
    }
    graft.llm.Multimodal.Media(id, bytes, "application/octet-stream")
  }

  // Round-13 wave 2: dump/shard ingestion + boilerplate. Bodies are
  // splitmix-worded paragraphs sized like short real records; codec
  // choice cycles per id so gzip/bz2/zstd/xz decompression is inside
  // the timed stage on its share of the corpus.
  private def probeWikiMedia(id: Long): graft.llm.Multimodal.Media = {
    val local = id % 1000000L
    def para(j: Int): String = (0 until 25).map(w =>
      s"w${graft.llm.Hashing.splitmix64(local * 31L + j * 5L + w) & 0xFFL}").mkString(" ")
    val pages = (0 until (1 + local % 3).toInt).map { j =>
      (s"P $local/$j", 0, local * 10 + j, "",
        s"== H$j ==\n'''${para(j)}''' and [[T$j|${para(j + 1).take(30)}]] {{tmpl|$j}}\n* ${para(j + 2)}\n")
    }
    graft.llm.Multimodal.Media(id,
      graft.llm.Wiki.syntheticDump(pages, (local % 3).toInt), "application/xml")
  }
  private def probeJsonlMedia(id: Long): graft.llm.Multimodal.Media = {
    val local = id % 1000000L
    val lines = (0 until 4).map { j =>
      val words = (0 until 30).map(w =>
        s"t${graft.llm.Hashing.splitmix64(local * 53L + j * 11L + w) & 0x7FL}").mkString(" ")
      s"""{"id":${local * 10 + j},"text":"$words"}"""
    }
    graft.llm.Multimodal.Media(id,
      graft.llm.Archives.syntheticJsonl(lines, (local % 5).toInt), "application/jsonl")
  }
  private def probeBoilerMedia(id: Long): graft.llm.Multimodal.Media = {
    val local = id % 1000000L
    def para(j: Int): String = (0 until 35).map(w =>
      s"w${graft.llm.Hashing.splitmix64(local * 97L + j * 13L + w) & 0xFFL}").mkString(" ")
    val html = s"<html><body><nav>" +
      (0 until 8).map(k => s"<a href='/$k'>nav $k</a>").mkString(" ") +
      "</nav>" +
      (0 until 4).map(j => s"<p>${para(j)} <a href='/x'>ref</a></p>").mkString +
      s"<div>${(0 until 6).map(k => s"<a href='/$k'>link farm $k</a>").mkString(" ")}</div>" +
      s"<footer>${para(9)}</footer></body></html>"
    graft.llm.Multimodal.Media(id, html.getBytes("UTF-8"), "text/html")
  }
  private def probeSeMedia(id: Long): graft.llm.Multimodal.Media = {
    val local = id % 1000000L
    def para(j: Int): String = (0 until 30).map(w =>
      s"w${graft.llm.Hashing.splitmix64(local * 17L + j * 3L + w) & 0xFFL}").mkString(" ")
    val rows = (0 until (2 + local % 2).toInt).map { j =>
      (local * 10 + j, 1 + (j % 2), ((local + j) % 40 - 5).toInt,
        s"T $local/$j", Seq(s"t${local % 7}"), s"<p>${para(j)}</p><p>${para(j + 1)}</p>")
    }
    graft.llm.Multimodal.Media(id,
      graft.llm.StackExchange.syntheticPosts(rows, (local % 3).toInt), "application/xml")
  }

  // Round-14 fixtures: VP8L decode + dHash over all six bitstream shapes,
  // the animated-WebP compositor, and frame-energy VAD.
  private def probeVp8lMedia(id: Long): graft.llm.Multimodal.Media = {
    val w = 18; val h = 16
    val gray = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (((id % 40) * 31 + x * 7 + y * 13) % 176).toInt
    }
    graft.llm.Multimodal.Media(id,
      graft.llm.Vp8l.syntheticWebpGray(w, h, gray, (id % 6).toInt), "image/webp")
  }
  private def probeWebpAnimMedia(id: Long): graft.llm.Multimodal.Media = {
    val c = (id % 40).toInt
    val f0 = Array.tabulate(18 * 16)(i => (c * 31 + (i % 18) * 7 + (i / 18) * 13) % 176)
    val f1 = Array.tabulate(8 * 6)(i => (c + (i % 8) * 11 + (i / 8) * 3) % 200)
    val f3 = Array.tabulate(4 * 4)(i => (c + (i % 4) * 9 + (i / 4) * 2) % 120)
    graft.llm.Multimodal.Media(id, graft.llm.Vp8l.syntheticWebpAnim(18, 16, 10, Seq(
      (0, 0, 18, 16, f0, 255, false, false, (id % 6).toInt),
      (4, 6, 8, 6, f1, 255, false, true, ((id + 1) % 6).toInt),
      (12, 2, 4, 4, f3, 128, true, false, 0))), "image/webp")
  }
  private def probeVadMedia(id: Long): graft.llm.Multimodal.Media = {
    val samples = Array.tabulate(24 * 160) { j =>
      val f = j / 160
      if (((f + id) % 7 < 2) || ((f + id) % 5 == 3)) 0 else 300
    }
    graft.llm.Multimodal.Media(id,
      graft.llm.Multimodal.syntheticWavPcm(8000, samples), "audio/wav")
  }

  // Round-15 fixtures: composite-font PDF text, the ObjStm/XRef layout
  // interleaved with the filter chains, and charset-resolved WARC records
  // (seven resolution paths per archive, bodies byte-exact).
  private def probeCidMedia(id: Long): graft.llm.Multimodal.Media = {
    val specials = (id % 3) match {
      case 0 => Seq(0x0001, 0x0099)
      case 1 => Seq(0x0002, 0x0010, 0x0011, 0x0012)
      case _ => Seq(0x0003)
    }
    graft.llm.Multimodal.Media(id,
      graft.llm.Pdf.syntheticCidPdf("1.6", s"Cid D$id body words here",
        specials, s"a=${id % 13}".getBytes("ISO-8859-1"),
        splitTj = id % 2 == 1, flateCmap = id % 2 == 0),
      "application/pdf")
  }
  private def probeModernPdfMedia(id: Long): graft.llm.Multimodal.Media = {
    val lines = (0 until 3).map(j => s"L$j D$id (k=${(id + j) % 31}) zzzzz run")
    val bytes =
      if (id % 2 == 0)
        graft.llm.Pdf.syntheticObjStmPdf("1.7", lines,
          flateObjStm = id % 4 == 0, flateContent = id % 4 == 2)
      else graft.llm.Pdf.syntheticFilterPdf("1.4", lines, ((id - 1) / 2 % 6).toInt)
    graft.llm.Multimodal.Media(id, bytes, "application/pdf")
  }
  private def probeCharsetMedia(id: Long): graft.llm.Multimodal.Media = {
    def iso(s: String) = s.getBytes("ISO-8859-1")
    def b(xs: Int*) = xs.map(_.toByte).toArray
    val recs = Seq(
      (s"http://p/$id/1", "text/html; charset=windows-1252", iso(s"w$id ") ++ b(0x93, 0xE9, 0x94)),
      (s"http://p/$id/2", "text/html", iso("<meta charset=shift_jis>") ++ "日本語".getBytes("Shift_JIS")),
      (s"http://p/$id/3", "text/html", b(0xEF, 0xBB, 0xBF) ++ s"b$id é…".getBytes("UTF-8")),
      (s"http://p/$id/4", "text/html", iso(s"f$id ") ++ b(0x80, 0x99)),
      (s"http://p/$id/5", "text/html", s"u$id é€".getBytes("UTF-8")),
      (s"http://p/$id/6", "text/html", b(0xFF, 0xFE) ++ s"s$id".getBytes("UTF-16LE")),
      (s"http://p/$id/7", "text/html; charset=iso-8859-1", iso(s"l$id ") ++ b(0x85)))
    graft.llm.Multimodal.Media(id,
      graft.llm.Warc.syntheticWarcRaw(recs, gzipped = id % 2 == 0),
      "application/warc")
  }

  // Round-15 second wave: dated WARC captures for CDX indexing, Walsh-tone
  // audio for the WHT fingerprint, and a dense BMP — the wHash worst case
  // (every coefficient nonzero, median load-bearing).
  private def probeCdxMedia(id: Long): graft.llm.Multimodal.Media = {
    val recs = (0 until (2 + id % 2).toInt).map { i =>
      val port = if (i % 2 == 0) ":80" else ":8080"
      (s"HTTP://WwW.Ex$id.ORG$port/P$id/$i?b=2&a=$id#f",
        f"2026-08-${1 + (id + i) % 28}%02dT${id % 24}%02d:${(i * 7) % 60}%02d:${(id + i) % 60}%02dZ",
        s"<p>cdx ${(id + i) % 4}</p>")
    }
    graft.llm.Multimodal.Media(id,
      graft.llm.Warc.syntheticWarcDated(recs, gzipped = id % 2 == 0),
      "application/warc")
  }
  private def probeSpectralMedia(id: Long): graft.llm.Multimodal.Media = {
    val frames = (4 + id % 3).toInt
    val samples = new Array[Int](frames * 64)
    var n = 0
    while (n < frames) {
      val k = (1 + (id + 3 * n) % 33).toInt
      val a = (50 + 10 * ((id + n) % 5)).toInt
      var j = 0
      while (j < 64) {
        samples(n * 64 + j) =
          if (java.lang.Integer.bitCount(k & j) % 2 == 0) a else -a
        j += 1
      }
      n += 1
    }
    graft.llm.Multimodal.Media(id,
      graft.llm.Multimodal.syntheticWavPcm(8000, samples), "audio/wav")
  }
  private def probeWhashMedia(id: Long): graft.llm.Multimodal.Media =
    graft.llm.Multimodal.Media(id, graft.llm.Multimodal.syntheticBmp8(32, 32,
      Array.tabulate(1024)(i => ((i * 11 + id.toInt * 7 + (i / 32) * 3) % 200))),
      "image/bmp")

  /** Deterministic 64-dim pseudo-embedding (the NswSpec idiom). */
  private def probeVec(id: Long): Array[Float] =
    Array.tabulate(64)(d =>
      (Hashing.splitmix64(id * 131 + d).toDouble / Long.MaxValue.toDouble).toFloat)

  /** As-of ticks with a HOT key: half of all rows land on key 0. */
  private def hotTicks(id: Column, span: Long, mult: Long, payload: String): Seq[Column] = Seq(
    when(pmod(id, lit(2)) === 0, lit(0L)).otherwise(pmod(id, lit(64))).as("k"),
    pmod(id * mult, lit(span)).as("t"),
    id.as(payload))

  /** One factor's inputs. Frames several workloads share are persisted on
    * first use and `kept` until the factor ends; the harness unpersists
    * everything else the moment a workload reports. Factor 0 carries the
    * factor-independent XL rows only. */
  private final class Corpus(val spark: SparkSession, sfDir: String, val f: Int) {
    import spark.implicits._
    var kept: Set[Int] = Set.empty
    private def shared[T](ds: Dataset[T]): Dataset[T] = {
      ds.persist().count()
      kept = spark.sparkContext.getPersistentRDDs.keys.toSet
      ds
    }
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val embs0 = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    // ids offset per copy; every copy's text is perturbed differently, so
    // cross-copy pairs stay NEAR-dups, not exact dups
    lazy val docs: DataFrame = shared((0 until f).map { i =>
      docs0.select((col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
        concat(col("text"), lit(" variant" + i)).as("text"))
    }.reduce(_ unionByName _))
    lazy val embs: DataFrame = shared((0 until f).map { i =>
      embs0.select((col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"), col("embedding"))
    }.reduce(_ unionByName _))
    /** The doc ids spread over every core; the media fixtures render from
      * these inside the timed map stage, standing in for scan I/O. */
    lazy val ids: Dataset[Long] = shared(docs.select("doc_id")
      .repartition(spark.sparkContext.defaultParallelism).as[Long])
    def media(gen: Long => Multimodal.Media, every: Long = 1): Dataset[Multimodal.Media] =
      (if (every == 1) ids else ids.filter(_ % every == 0)).map(gen)
    lazy val qMany = embs.filter(col("vec_id") % 37 === 0) // ~2.7% of corpus as queries
    lazy val ivf: (DataFrame, DataFrame) = {
      val cents = Ivf.train(embs, k = 16, iters = 2)
      (cents, shared(Ivf.index(embs, cents)))
    }
    lazy val pq: (DataFrame, DataFrame) = {
      val codebook = Pq.train(embs, m = 8, ksub = 8, iters = 2)
      (codebook, shared(Pq.encode(embs, codebook, 8, 8)))
    }
    // a replicated link graph: each copy is a self-contained subgraph (3
    // deterministic within-copy out-links per doc: dst = copyBase +
    // (local·31 + c) mod |copy|), so edges AND nodes grow linearly with the
    // factor while the iteration count stays fixed
    lazy val linkEdges: DataFrame = {
      val nd0 = docs0.count()
      val copyBase = (col("doc_id").cast("long") / 1000000L).cast("long") * 1000000L
      val localId = pmod(col("doc_id"), lit(1000000L))
      docs.select(col("doc_id").as("src"),
        explode(array((1 to 3).map(c =>
          copyBase + pmod(localId * 31L + lit(c.toLong * 7L + 1L), lit(nd0))): _*)).as("dst"))
    }
    // a replicated entity keyspace of sequential low-entropy names: cross-
    // copy names pair too (the offset digit is one substitution away), so
    // every copy chains into ONE giant component
    lazy val names: DataFrame = docs.select(col("doc_id").as("ent_id"),
      format_string("Entity#%09d", col("doc_id")).as("name"))
    // 5000·f deterministic vectors over 8 partitions, queried by the first 16
    lazy val vectors: DataFrame = shared(spark.range(5000L * f).as[Long]
      .map(id => (id, probeVec(id))).toDF("vec_id", "embedding").repartition(8))
    // the file log and the incremental join, seeded with 10·f produce
    // calls of 2000 messages (resp. 10·f join steps of 1000 orders) in a
    // temporary directory that `close` deletes
    private var dirs: List[java.nio.file.Path] = Nil
    private def tempDir(): String = {
      dirs ::= java.nio.file.Files.createTempDirectory("graft_probe")
      dirs.head.toString
    }
    def close(): Unit = dirs.foreach(FileStorage.deleteTree)
    val logCalls: Int = 10 * f
    def logBatch(i: Int): DataFrame = spark.range(i * 2000L, (i + 1) * 2000L).select(
      (col("id") % 997).cast("string").as("key"), concat(lit("v"), col("id")).as("value"),
      timestamp_millis(lit(1609459200000L) + col("id") * 1000L).as("timestamp"))
    lazy val log: FileStorage = {
      val fs = new FileStorage(spark, tempDir())
      fs.createTopic("orders", 4)
      (0 until logCalls).foreach(i => fs.produce("orders", logBatch(i)))
      fs
    }
    /** Step i's deltas: 1000 orders over 200 customers plus 100 cancels of
      * step i-5's orders; all customers at step 0, then one moving segment. */
    def joinDeltas(i: Int): (DataFrame, DataFrame) = {
      val orders = spark.range(i * 1000L, (i + 1) * 1000L).select(
        concat(lit("c"), col("id") % 200).as("customer_id"), col("id").as("order_id"), lit(1L).as(ZSet.W))
      val cancels = spark.range((i - 5) * 1000L, (i - 5) * 1000L + (if (i >= 5) 100 else 0)).select(
        concat(lit("c"), col("id") % 200).as("customer_id"), col("id").as("order_id"), lit(-1L).as(ZSet.W))
      val dims =
        if (i == 0) spark.range(200).select(concat(lit("c"), col("id")).as("cid"),
          (col("id") % 5).cast("string").as("segment"), lit(1L).as(ZSet.W))
        else spark.range(2).select(lit(s"c${i % 200}").as("cid"),
          ((lit(i % 200) + col("id")) % 5).cast("string").as("segment"),
          when(col("id") === 0, -1L).otherwise(1L).as(ZSet.W))
      (orders.unionByName(cancels), dims)
    }
    lazy val join: IncrementalJoin = {
      val (a, b) = joinDeltas(0)
      val j = new IncrementalJoin(spark, tempDir(), a.schema, b.schema, col("customer_id") === col("cid"))
      (0 until logCalls).foreach { i => val (da, db) = joinDeltas(i); j.step(da, db).count() }
      j
    }
    // 20M XL ticks, both plan shapes warmed at 1/100 scale first: each form
    // cycles distinct window/aggregate shapes whose first-ever Janino
    // compile + first spill otherwise lands on whichever timed run goes
    // first — measured 124 s cold vs 6-8 s warm on the bucketed form
    lazy val xlTicks: (DataFrame, DataFrame) = {
      val id = col("id")
      val l = shared(spark.range(20000000L).select(hotTicks(id, 100000000L, 7919L, "lv"): _*))
      val r = shared(spark.range(20000000L).select(hotTicks(id, 100000000L, 104729L, "rv"): _*))
      nonNull(Temporal.asofJoin(l.limit(200000), r.limit(200000), Seq("k"), "t"), "r_rv")
      nonNull(Temporal.asofJoinBucketed(l.limit(200000), r.limit(200000), Seq("k"), "t",
        1000000L), "r_rv")
      (l, r)
    }
  }

  /** Non-null count of one parsed/extracted column: a bare count() lets
    * Catalyst prune a typed map or an unused window, timing a scan instead
    * of the operator (the Bench noop-sink lesson). */
  private def nonNull(ds: Dataset[_], column: String): Long =
    ds.agg(count(col(column))).head.getLong(0)

  /** A workload: given the factor's corpus, any untimed setup, then the
    * timed body, which returns the row count the JSON line reports. */
  private type Workload = (String, Corpus => () => Long)

  private val sweep: Seq[Workload] = Seq(
    ("minhash_pairs", c => () => Dedup.minhashPairs(c.docs, "doc_id", "text", threshold = 0.3).count()),
    ("simhash_pairs", c => () => Dedup.simhashPairs(c.docs, "doc_id", "text", maxHamming = 10).count()),
    ("ann_lsh_window_10q", c => () =>
      Ann.lshTopK(c.embs, c.embs.filter(col("vec_id") < 10), "vec_id", "embedding", 10).count()),
    ("ann_lsh_agg_manyq", c => () => Ann.lshTopKAgg(c.embs, c.qMany, "vec_id", "embedding", 10).count()),
    // the index (and the code table below) feed the search workloads
    ("ivf_train_index", c => () => c.ivf._2.count()),
    ("ivf_searchagg_manyq", c => () =>
      Ivf.searchAgg(c.ivf._2, c.ivf._1, c.qMany, k = 10, nprobe = 4).count()),
    // round-5 operators: duplicate-cluster contraction over the pair
    // graph, PQ train+encode, and the IVF-PQ composed search
    ("dedup_cluster_canonical", c => () => {
      val pairs = Dedup.minhashPairs(c.docs, "doc_id", "text", threshold = 0.3).select("id_a", "id_b")
      Dedup.clusters(c.docs, "doc_id", pairs).filter(col("is_canonical")).count()
    }),
    ("pq_train_encode", c => () => c.pq._2.count()),
    ("ivfpq_searchadc_manyq", c => () =>
      Pq.searchIvfAdc(c.pq._2.join(c.ivf._2.select("vec_id", "list_id"), Seq("vec_id")),
        c.ivf._1, c.pq._1, c.qMany, 8, 8, 10, nprobe = 4).count()),
    // round-6 operators: repeated spans (replicated corpus = worst case,
    // every doc repeats across copies), domain caps (50 synthetic hot
    // domains, bounded output), LM scoring vs a FIXED reference (the
    // realistic shape: the LM never grows with the corpus)
    ("repeated_spans", c => () => Dedup.repeatedSpans(c.docs, "doc_id", "text", k = 13).count()),
    // the spans APPLIED: the per-doc span-array join-back and the cut
    // kernel on top of discovery; rows = docs scrubbed
    ("scrub_repeated_spans", c => { val nd = c.docs.count(); () => {
      Dedup.scrubRepeatedSpans(c.docs, "doc_id", "text", k = 13).agg(sum("removed_tokens")).head()
      nd
    } }),
    ("domain_cap100", c => () => graft.llm.Sampling.capPerDomain(
      c.docs.withColumn("dom", pmod(col("doc_id"), lit(50))), "doc_id", "dom", 100).count()),
    ("lm_score_fixed_ref", c => () => graft.llm.TextAnalysis.lmScore(c.docs, "doc_id", "text",
      c.docs0.filter(col("doc_id") % 5 === 0), "text").count()),
    // round-6 wave 2: sketching, membership, sharding, sub-doc dedup,
    // snapshot diffing — each should be flat-to-linear in corpus size
    ("hll_registers", c => () => graft.llm.Sketches.hllRegisters(c.docs, "text", p = 8).count()),
    ("bloom_build_probe", c => () => {
      val filter = graft.llm.Bloom.build(c.docs0.filter(col("doc_id") % 11 === 0), "text",
        bits = 1 << 20, k = 3)
      graft.llm.Bloom.probe(c.docs, "doc_id", "text", filter, k = 3).filter(col("maybe_member")).count()
    }),
    ("shuffle_shards32", c => () => graft.llm.Sampling.shuffleShards(c.docs, "doc_id", nShards = 32).count()),
    ("paragraph_dedup", c => () => {
      val paraDocs = c.docs.withColumn("text",
        expr("""array_join(transform(
          |  sequence(0, greatest((size(split(text, ' ')) + 7) div 8, 1) - 1),
          |  i -> array_join(slice(split(text, ' '), CAST(i * 8 + 1 AS INT), 8), ' ')), '\n\n')""".stripMargin))
      Dedup.dedupParagraphs(paraDocs, "doc_id", "text").filter(col("n_kept") > 0).count()
    }),
    ("corpus_diff", c => () => graft.llm.Snapshot.corpusDiff(c.docs,
      c.docs.filter(col("doc_id") % 7 =!= 3), "doc_id", "text").groupBy("status").count().count()),
    ("decontaminate_bloom", c => () => {
      val benchFix = c.docs0.filter(col("doc_id") % 37 === 0)
        .select(expr("array_join(slice(split(text, ' '), 11, 30), ' ')").as("text"))
      Dedup.decontaminateBloom(c.docs, "doc_id", "text", benchFix, "text",
        k = 13, bloomBits = 1 << 20, bloomK = 3).filter(col("contaminated")).count()
    }),
    ("heavy_hitters_cms", c => () => graft.llm.Sketches.heavyHitters(
      c.docs.selectExpr("explode(split(lower(text), ' ')) AS term"), "term",
      threshold = 1000L, depth = 4, width = 1024).count()),
    // round-6 wave 3: retrieval + selection operators. Fixed query /
    // target / model sides (the realistic shape — the corpus grows, the
    // trusted sets don't); scoring should scale linearly.
    ("bm25_fixed_queries", c => () => {
      val bmQ = c.docs0.filter(col("doc_id") % 170 === 0).select(col("doc_id").as("q_id"),
        expr("array_join(slice(split(text, ' '), 3, 10), ' ')").as("q_text"))
      graft.llm.TextAnalysis.bm25TopK(c.docs, "doc_id", "text", bmQ, "q_id", "q_text", topK = 5).count()
    }),
    ("dsir_weights_fixed_target", c => () => graft.llm.Sampling.dsirWeights(c.docs, "doc_id", "text",
      c.docs0.filter(col("doc_id") % 7 === 0), "text", buckets = 1024).count()),
    ("nb_quality_fixed_model", c => () => graft.llm.QualityClassifier.nbQualityFilter(
      c.docs, "doc_id", "text", c.docs0.filter(col("doc_id") % 7 === 0), "text",
      c.docs0.filter(col("doc_id") % 7 =!= 0), "text", buckets = 1024).filter(col("keep")).count()),
    ("semdedup_canonical", c => () => Dedup.semanticDedup(c.embs, "vec_id", "embedding",
      threshold = 0.3, k = 16, iters = 2).filter(col("is_canonical")).count()),
    // round-9: the iterative graph ops (2 keyed shuffles per pageRank
    // iteration, 2 per HITS half-iteration, lineage capped by
    // localCheckpoint)
    ("pagerank_5it", c => () => graft.ops.Graphs.pageRank(c.linkEdges, "src", "dst", iters = 5).count()),
    ("hits_3it", c => () => graft.ops.Graphs.hits(c.linkEdges, "src", "dst", iters = 3).count()),
    // round-9: the edit-distance join family (deletion-neighborhood regime)
    ("fuzzy_join_d1", c => () => graft.llm.Fuzzy.editDistanceJoinShort(c.names, "ent_id", "name", 1).count()),
    ("fuzzy_cluster_canonical", c => () => graft.llm.Fuzzy.fuzzyClusters(c.names, "ent_id", "name",
      maxDist = 1, shortStrings = true).filter(col("is_canonical")).count()),
    // round-11: the media near-dup family. Decode+hash is a pure map
    // stage; candidates ride the banded-Hamming join (image/audio) resp.
    // the frame-hash equi-join with the blank-frame bucket cap (video), so
    // join fanout is the planted C(f,2)-per-local twins plus rare splitmix
    // accidents — never all-pairs.
    ("image_neardup_pairs", c => () =>
      Multimodal.imageNearDupPairs(c.media(probeImageMedia), maxHamming = 2).count()),
    ("audio_neardup_pairs", c => () =>
      Multimodal.audioNearDupPairs(c.media(probeAudioMedia), maxHamming = 2).count()),
    ("video_neardup_pairs", c => () => Multimodal.videoNearDupPairs(c.media(probeVideoMedia),
      sampleFrames = 12, minShared = 8).count()),
    // the q_pipeline_media composition: decode → hash → pairs → transitive
    // clusters → canonical, ONE plan; the CC closure moves 16-byte edges only
    ("media_pipeline_canonical", c => () => {
      val pairs = Multimodal.imageNearDupPairs(c.media(probeImageMedia), maxHamming = 2)
        .select("id_a", "id_b")
      Dedup.clusters(c.docs.select(col("doc_id")), "doc_id", pairs).filter(col("is_canonical")).count()
    }),
    // round-12: the codec-wave decode CPU rows — hash stage only
    ("image_hash_cross_container6", c => () =>
      nonNull(Multimodal.imageDHash(c.media(probeImageCrossMedia)), "dhash")),
    ("audio_hash_cross_encoding8", c => () =>
      nonNull(Multimodal.audioEnvelopeHash(c.media(probeAudioCrossMedia)), "dhash")),
    ("video_hash_cross_container2", c => () =>
      nonNull(Multimodal.videoFrameHashes(c.media(probeVideoCrossMedia), sampleFrames = 12), "dhash")),
    // round-13: adversarial compositor chains on a quarter corpus, two
    // chain lengths — the pair's ratio pins CPU ∝ total frames, the factor
    // sweep pins linear-in-corpus
    ("video_gif_adversarial_chain24", c => () => nonNull(Multimodal.videoFrameHashes(
      c.media(probeVideoAdversarialMedia(24), every = 4), sampleFrames = 4), "dhash")),
    ("video_gif_adversarial_chain96", c => () => nonNull(Multimodal.videoFrameHashes(
      c.media(probeVideoAdversarialMedia(96), every = 4), sampleFrames = 4), "dhash")),
    // round-13: admission walks, WARC ingest/extract, the seven-format
    // document router, dump/shard ingestion and the boilerplate classifier
    ("webp_meta_walk", c => () =>
      nonNull(graft.llm.Containers.decodeWebpMeta(c.media(probeWebpMedia)), "width")),
    ("mkv_meta_walk", c => () =>
      nonNull(graft.llm.Containers.decodeMkvMeta(c.media(probeMkvMedia)), "duration_ms")),
    ("warc_ingest_records", c => () =>
      nonNull(graft.llm.Warc.readWarc(c.media(probeWarcMedia)), "content_length")),
    ("warc_html_extract", c => () => nonNull(graft.llm.Warc.htmlTextRecords(c.media(probeWarcMedia))
      .toDF("doc_id", "rec_idx", "text"), "text")),
    ("doc_router_extract", c => () => nonNull(graft.llm.Docs.routedTexts(c.media(probeDocMedia))
      .toDF("doc_id", "format", "text"), "text")),
    ("wiki_ingest_extract", c => () => nonNull(graft.llm.Wiki.wikiPages(c.media(probeWikiMedia))
      .map(p => graft.llm.Wiki.wikitextToText(p.text))(Encoders.STRING), "value")),
    ("jsonl_shard_lines", c => () =>
      nonNull(graft.llm.Archives.jsonlLines(c.media(probeJsonlMedia)), "line")),
    ("boilerplate_content_blocks", c => () => nonNull(
      graft.llm.Boilerplate.htmlBlocks(c.media(probeBoilerMedia)).filter(col("is_content")), "text")),
    ("stackexchange_posts", c => () =>
      nonNull(graft.llm.StackExchange.posts(c.media(probeSeMedia)), "body_text")),
    // PCA: the covariance pass is the corpus-linear part; Jacobi is O(d³)
    // once on the driver, invariant in the factor
    ("pca_fit_project", c => () => {
      val model = graft.llm.Pca.fit(c.embs, "embedding")
      nonNull(graft.llm.Pca.project(c.embs, "vec_id", "embedding", model, 2), "pc_0")
    }),
    // round-10: the as-of family under a HOT key. The plain window
    // serializes key 0 into ONE task's sort; the bucketed form (width 10⁴
    // over a fixed 10⁶ time span = 100 cuts) spreads it. Right-side (k, t)
    // ties only perturb WHICH equal-time payload wins, never the count of
    // matched left rows reported.
    ("asof_hotkey_plain", c => () => nonNull(Temporal.asofJoin(
      c.docs.select(hotTicks(col("doc_id"), 1000000L, 7919L, "lv"): _*),
      c.docs.select(hotTicks(col("doc_id"), 1000000L, 104729L, "rv"): _*), Seq("k"), "t"), "r_rv")),
    ("asof_hotkey_bucketed", c => () => nonNull(Temporal.asofJoinBucketed(
      c.docs.select(hotTicks(col("doc_id"), 1000000L, 7919L, "lv"): _*),
      c.docs.select(hotTicks(col("doc_id"), 1000000L, 104729L, "rv"): _*), Seq("k"), "t", 10000L),
      "r_rv")),
    // round-14: VP8L decode, the animated-WebP compositor (keyframe +
    // overwrite + dispose + semi-transparent blend), frame-energy VAD
    ("webp_vp8l_dhash", c => () =>
      nonNull(Multimodal.imageDHash(c.media(probeVp8lMedia)).filter(col("ok")), "dhash")),
    ("webp_anim_frame_hashes", c => () =>
      nonNull(Multimodal.videoFrameHashes(c.media(probeWebpAnimMedia), sampleFrames = 4), "dhash")),
    ("audio_vad_segments", c => () =>
      nonNull(graft.llm.AudioStats.vadSegments(c.media(probeVadMedia)), "seg_idx")),
    // wiki slices: ONE on-disk multistream dump of 60·f streams / 300·f
    // pages; slim slice rows fan out to ranged-read tasks, so the wall
    // should track pages/streams, never the dump's monolithic size
    ("wiki_slice_ranged_decode", c => {
      import c.spark.implicits._
      val pages = (0 until 300 * c.f).map(i =>
        (s"P $i", 0, i.toLong, "", s"probe body $i " + ("w " * 40)))
      val (dump, index) = graft.llm.Wiki.syntheticMultistreamIndexed(pages, 60 * c.f)
      val file = java.io.File.createTempFile("graft-probe-ms", ".xml.bz2")
      file.deleteOnExit()
      java.nio.file.Files.write(file.toPath, dump)
      val path = file.getAbsolutePath
      val src = Seq(graft.llm.Wiki.WikiIndexSrc(0L, index, dump.length.toLong)).toDS()
      () => nonNull(graft.llm.Wiki.slicePagesFs(graft.llm.Wiki.indexSlices(src)
        .map(s => (s, path)).repartition(c.spark.sparkContext.defaultParallelism)), "page_id")
    }),
    // round-15: composite-font and modern-layout PDF text, charset-resolved
    // WARC ingest, and the stupid-backoff LM against a reference held
    // CONSTANT across factors (the CCNet premise)
    ("pdf_cid_text", c => () => nonNull(graft.llm.Pdf.pdfPages(c.media(probeCidMedia)), "text")),
    ("pdf_objstm_filters_text", c => () =>
      nonNull(graft.llm.Pdf.pdfPages(c.media(probeModernPdfMedia)), "text")),
    ("warc_charset_ingest", c => () =>
      nonNull(graft.llm.Warc.readWarc(c.media(probeCharsetMedia)), "charset")),
    ("lm_backoff_score", c => () => nonNull(graft.llm.TextAnalysis.lmScoreBackoff(c.docs,
      "doc_id", "text", c.docs0.filter(col("doc_id") % 5 === 0), "text"), "surprisal_micronats")),
    // round-15 second wave: CDX indexing, revisit dedup (the one shuffle
    // that follows it), the WHT spectral fingerprint, image wHash
    ("cdx_index", c => () => nonNull(graft.llm.Warc.cdxRecords(c.media(probeCdxMedia)), "digest")),
    ("cdx_revisit_dedup", c => () => graft.llm.Warc.revisitDedup(
        graft.llm.Warc.cdxRecords(c.media(probeCdxMedia)).toDF().filter(col("rec_type") === "response"))
      .agg(sum(col("keep"))).head.getLong(0)),
    ("audio_spectral", c => () =>
      nonNull(graft.llm.AudioStats.spectralFingerprint(c.media(probeSpectralMedia)), "hash32")),
    ("image_whash", c => () =>
      nonNull(Multimodal.imageWHash(c.media(probeWhashMedia)).filter(col("ok")), "dhash")),
    // ranged fetch: the archive GROWS with the factor but the wanted subset
    // stays CONSTANT (100 captures); archive synthesis and the file install
    // stay untimed, so wall must be flat in archive size — the point of
    // carrying a CDX index instead of scanning
    ("cdx_ranged_fetch_const_subset", c => {
      val recs = (0 until 500 * c.f).map(i =>
        (s"http://fp.net/p$i", "2026-08-01T00:00:00Z", s"<p>f $i ${"pad " * 20}</p>"))
      val archive = graft.llm.Warc.syntheticWarcDated(recs, gzipped = true)
      val file = java.io.File.createTempFile("graft_w5_fetch", ".warc.gz")
      file.deleteOnExit()
      java.nio.file.Files.write(file.toPath, archive)
      val wanted = graft.llm.Warc.cdxIndex(archive).filter(r => r.rec_type == "response")
        .take(100).map(r => (r, file.getAbsolutePath))
      val rows = c.spark.createDataset(wanted)(
        Encoders.product[(graft.llm.Warc.CdxRow, String)]).repartition(8)
      () => nonNull(graft.llm.Warc.fetchRecords(rows), "payload")
    }),
    // f INDEPENDENT brute mining jobs over constant embedding slices: the
    // per-job cost is fixed, so wall should track f — what scales in a
    // real pipeline is how many shard-pair candidate jobs LSH/IVF feed
    ("bitext_margin", c => () => (0 until c.f).map { _ =>
      nonNull(graft.llm.Bitext.marginPairs(c.embs0.filter(col("vec_id") % 2 === 0),
        c.embs0.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", k = 4), "margin")
    }.sum),
    // round-15 third wave: NSW graph ANN over a corpus scaling with the
    // factor at a constant 16-query set (the brute reference shows the
    // |corpus| × |queries| baseline it beats), and RRF fusion over a query
    // count scaling with the factor — |queries| × k slim triples, no
    // corpus-sized stage anywhere
    ("nsw_build_search", c => { val v = c.vectors; () => nonNull(Nsw.searchTopK(v,
      v.filter(col("vec_id") < 16), "vec_id", "embedding", k = 10, m = 8, efConstruction = 32,
      ef = 64), "nn_id") }),
    ("ann_brute_ref", c => { val v = c.vectors; () => nonNull(Ann.bruteForceTopK(v,
      v.filter(col("vec_id") < 16), "vec_id", "embedding", 10), "nn_id") }),
    ("rrf_fuse", c => () => {
      import c.spark.implicits._
      // two top-10 lists per query, ids offset so the overlap (and thus
      // the sum path) is exercised on every query
      def ranks(shift: Int) = c.spark.range(2500L * c.f).as[Long].flatMap(q =>
        (1 to 10).map(r => (q, (q * 7 + r + shift) % 1000, r.toLong))).toDF("q_id", "nn_id", "rank")
      nonNull(Retrieval.rrfFuse(Seq(ranks(0), ranks(5)), "q_id", "nn_id", "rank", topK = 10), "nn_id")
    }),
    // the file log and the join state: one more produce, a range read of
    // the fullest partition's last 125 offsets, one more join step — each
    // reads the offset index or the join's O(log n) segments, never the
    // whole log or state, so all three should stay flat as the factor grows
    // the log and the join state. Rows: messages in the log, messages read,
    // join output rows
    ("log_produce", c => { val fs = c.log; () => {
      fs.produce("orders", c.logBatch(c.logCalls))
      fs.watermarks("orders").agg(sum(col("high") - col("low"))).head.getLong(0)
    } }),
    ("log_read_range", c => {
      val high = c.log.watermarks("orders").select("high").as[Long](Encoders.scalaLong).collect().max
      () => c.log.readRange("orders", high - 125, high).count()
    }),
    ("join_step", c => { val j = c.join; val (da, db) = c.joinDeltas(c.logCalls); () => j.step(da, db).count() }))

  /** Factor-independent, corpus-free rows, run once after the sweep: the
    * in-factor as-of pair shows parity because a few-hundred-thousand-row
    * hot key sorts in one task faster than the bucket-summary pass costs.
    * THIS is the regime the bucketed form exists for: 20M ticks, HALF on
    * one key — plain asofJoin sorts 10M rows in a single task while every
    * other core idles; the bucketed form (width 10⁶ over a 10⁸ span = 100
    * cuts) spreads that sort. */
  private val fixed: Seq[Workload] = Seq(
    ("asof_hotkey_xl_plain", c => { val (l, r) = c.xlTicks; () =>
      nonNull(Temporal.asofJoin(l, r, Seq("k"), "t"), "r_rv") }),
    ("asof_hotkey_xl_bucketed", c => { val (l, r) = c.xlTicks; () =>
      nonNull(Temporal.asofJoinBucketed(l, r, Seq("k"), "t", 1000000L), "r_rv") }))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 4, 10)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = Session()
    try {
      // warm the iterative-graph plan shapes on an 8-edge graph (Bench's
      // posture): the loops cycle several distinct shapes per iteration
      // and their first-ever Janino compile otherwise lands on the
      // factor-1 row (r9: hits_3it read 36.7 s at 1× vs 5.3 s at 4× —
      // compilation, not the operator)
      try {
        import spark.implicits._
        val tiny = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")
        graft.ops.Graphs.pageRank(tiny, "s", "d", iters = 2)
          .write.format("noop").mode("overwrite").save()
        graft.ops.Graphs.hits(tiny, "s", "d", iters = 2)
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[probe] warmup failed: ${e.getMessage}") }
      // cross-workload hygiene, the Bench r9/r10 lesson applied to the
      // probe: operator-internal persists and loop checkpoints that outlive
      // their workload pile up across a factor's workloads and tax whatever
      // runs late in the JVM (pre-fix the factor-10 tail read 30-60 s on
      // workloads whose 4x time was 1-2 s — block-manager residue, not
      // operator scaling)
      var nReports = 0
      def run(f: Int, workloads: Seq[Workload]): Unit = {
        val selected = workloads.filter { case (name, _) => only.forall(_.contains(name)) }
        if (selected.nonEmpty) {
          val c = new Corpus(spark, sfDir, f)
          // materialize the shared corpora before the first timed row
          val sizes = if (f == 0) "" else { c.ids; s""""docs":${c.docs.count()},"vecs":${c.embs.count()},""" }
          selected.foreach { case (name, body) =>
            val timed = body(c)
            val t0 = System.nanoTime()
            val rows = timed()
            val sec = (System.nanoTime() - t0) / 1e9
            println(s"""{"factor":$f,$sizes"workload":"$name","sec":${math.round(sec * 1000) / 1000.0},"rows":$rows}""")
            spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
              if (!c.kept.contains(id)) rdd.unpersist(blocking = false)
            }
            nReports += 1
            // periodic full GC drains the ContextCleaner's weak-ref queue
            // (shuffle files, broadcasts) before the old gen fills
            if (nReports % 8 == 0) System.gc()
          }
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
          c.close()
        }
      }
      factors.foreach(run(_, sweep))
      run(0, fixed)
    } finally spark.stop()
  }
}
