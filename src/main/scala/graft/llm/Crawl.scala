package graft.llm

import org.apache.spark.sql.Dataset

import graft.llm.Multimodal.Media

/** Crawl-politeness metadata (round 13): a corpus pipeline that
  * re-crawls or audits provenance needs robots.txt semantics — not
  * just parsing, the DECISION function (REP, RFC 9309): group
  * selection by most-specific user-agent token, longest-match rule
  * precedence with allow winning length ties, `*` wildcards and the
  * `$` end anchor. All structural; a mistake denies or admits a URL,
  * and the oracle replays decisions the fixture pins.
  *
  * Reference scope: kafi has no crawl surface; LLM-pipeline extension
  * breadth, sibling to [[UrlOps]].
  */
object Crawl {

  /** One parsed rule line. `rule` ∈ allow/disallow; `agent` is the
    * group's user-agent token (lower-cased). */
  case class RobotsRule(doc_id: Long, group_idx: Int, agent: String,
      rule: String, pattern: String)

  private[graft] case class Robots(
      groups: Seq[(Seq[String], Seq[(Boolean, String)])], // (agents, (isAllow, pattern))
      sitemaps: Seq[String])

  /** Line-oriented parse per RFC 9309 §2.2: `field: value`, fields
    * case-insensitive, `#` comments, consecutive user-agent lines
    * open ONE group, rules before any user-agent line are ignored,
    * sitemap is group-independent. Total function. */
  private[graft] def parseRobots(text: String): Robots = {
    if (text == null) return Robots(Nil, Nil)
    val groups = Seq.newBuilder[(Seq[String], Seq[(Boolean, String)])]
    val sitemaps = Seq.newBuilder[String]
    var agents = Seq.newBuilder[String]
    var rules = Seq.newBuilder[(Boolean, String)]
    var nAgents = 0
    var nRules = 0
    var open = false // a group exists (agents seen)
    var inAgents = false // still collecting consecutive user-agent lines
    def flush(): Unit = {
      if (open) { groups += ((agents.result(), rules.result())) }
      agents = Seq.newBuilder[String]; rules = Seq.newBuilder[(Boolean, String)]
      nAgents = 0; nRules = 0; open = false
    }
    text.split("\n", -1).foreach { line0 =>
      val noComment = {
        val h = line0.indexOf('#')
        if (h >= 0) line0.substring(0, h) else line0
      }
      val line = noComment.trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val field = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            if (!inAgents) flush()
            agents += value.toLowerCase; nAgents += 1; open = true; inAgents = true
          case "allow" | "disallow" if open =>
            rules += ((field == "allow", value)); nRules += 1; inAgents = false
          case "sitemap" => sitemaps += value; inAgents = false
          case _ => inAgents = false // crawl-delay etc.: group keeps collecting rules
        }
      }
    }
    flush()
    Robots(groups.result(), sitemaps.result())
  }

  /** Does `pattern` (with `*` wildcards, optional `$` end anchor)
    * match a PREFIX of `path`? Iterative greedy-with-backtrack over
    * segments — linear-ish, no regex compilation per row. */
  private[graft] def patternMatches(pattern: String, path: String): Boolean = {
    if (pattern.isEmpty) return true // empty Disallow matches nothing per spec — handled by caller
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val parts = p.split("\\*", -1)
    var pos = 0
    var i = 0
    while (i < parts.length) {
      val part = parts(i)
      if (i == 0) {
        if (!path.startsWith(part)) return false
        pos = part.length
      } else if (part.nonEmpty) {
        // anchored final segment must sit at the END (leftmost-match
        // would reject "/a*b$" against "/abXb")
        if (anchored && i == parts.length - 1) {
          if (!(path.endsWith(part) && path.length - part.length >= pos)) return false
          pos = path.length
        } else {
          val k = path.indexOf(part, pos)
          if (k < 0) return false
          pos = k + part.length
        }
      } else pos = path.length // trailing '*' consumes the rest
      i += 1
    }
    if (anchored) pos == path.length else true
  }

  /** The REP decision for (userAgent, path): select the LONGEST
    * user-agent token that is a substring of `userAgent` (else `*`),
    * then — per RFC 9309 §2.2.1, which requires rules from ALL groups
    * matching the selected agent to be combined — concatenate the
    * rules of EVERY group carrying that token (a site can split one
    * agent's rules across non-adjacent groups); the `*` fallback
    * likewise merges all `*` groups. Longest-pattern matching rule
    * wins, allow beating disallow on equal length; no match →
    * allowed. */
  private[graft] def isAllowed(r: Robots, userAgent: String, path: String): Boolean = {
    val ua = userAgent.toLowerCase
    // pass 1: the most specific matching agent token across all groups
    var bestTok: String = null
    r.groups.foreach { case (agents, _) =>
      agents.foreach { a =>
        if (a != "*" && ua.contains(a) && (bestTok == null || a.length > bestTok.length))
          bestTok = a
      }
    }
    // pass 2: merge rules from every group carrying the selected token
    val wanted = if (bestTok != null) bestTok else "*"
    val merged = Seq.newBuilder[(Boolean, String)]
    var any = false
    r.groups.foreach { case (agents, groupRules) =>
      if (agents.contains(wanted)) { merged ++= groupRules; any = true }
    }
    if (!any) return true
    val rules = merged.result()
    var verdict = true
    var winLen = -1
    var winAllow = false
    rules.foreach { case (isAllow, pat) =>
      if (pat.nonEmpty && patternMatches(pat, path)) {
        val len = pat.length
        if (len > winLen || (len == winLen && isAllow && !winAllow)) {
          winLen = len; winAllow = isAllow; verdict = isAllow
        }
      }
    }
    verdict
  }

  // ------------------------------------------------------------------
  // Sitemaps (the discovery half of the crawl-metadata pair)
  // ------------------------------------------------------------------

  /** One sitemap entry: a page URL from `<urlset>` or a child-sitemap
    * URL from `<sitemapindex>` (`is_index` = 1). */
  case class SitemapUrl(doc_id: Long, url_idx: Int, loc: String,
      lastmod: String, changefreq: String, priority: Double, is_index: Int)

  /** The protocol's per-file entry cap (sitemaps.org): a file past
    * 50,000 entries is malformed, and a bounded walk is the scale
    * posture anyway — entries past the cap are dropped (round 15). */
  private val MaxSitemapEntries = 50000

  private def innerElem(xml: String, elem: String): Seq[String] = {
    val m = java.util.regex.Pattern
      .compile(s"<$elem(?:\\s[^>]*)?>(.*?)</$elem>", java.util.regex.Pattern.DOTALL)
      .matcher(xml)
    val out = Seq.newBuilder[String]
    while (m.find()) out += m.group(1)
    out.result()
  }

  /** Sitemap walk: urlset → per-url loc/lastmod/changefreq/priority
    * (absent priority = the protocol default 0.5; absent
    * lastmod/changefreq = empty); sitemapindex → child sitemap locs.
    * Entities in locs decode (&amp; in query strings is the classic);
    * entries past the 50,000 cap drop. Total function. */
  private[graft] def parseSitemap(xml: String): Seq[(String, String, String, Double, Int)] = {
    if (xml == null) return Nil
    def field(u: String, e: String): Option[String] =
      innerElem(u, e).headOption.map(s => Docs.xmlUnescape(s.trim))
    if (xml.contains("<sitemapindex")) {
      innerElem(xml, "sitemap").take(MaxSitemapEntries).flatMap(u =>
        field(u, "loc").map(l => (l, field(u, "lastmod").getOrElse(""), "", 0.5, 1)))
    } else if (xml.contains("<urlset")) {
      innerElem(xml, "url").take(MaxSitemapEntries).flatMap { u =>
        field(u, "loc").map { l =>
          (l, field(u, "lastmod").getOrElse(""),
            field(u, "changefreq").getOrElse(""),
            field(u, "priority").flatMap(_.toDoubleOption).getOrElse(0.5), 0)
        }
      }
    } else Nil
  }

  /** Byte-side entry: sitemaps are routinely served gzipped (the
    * .xml.gz convention) — sniff the magic, inflate, delegate; a
    * corrupt stream yields no rows (round 15). */
  private[graft] def parseSitemap(raw: Array[Byte]): Seq[(String, String, String, Double, Int)] = {
    if (raw == null || raw.length < 2) return Nil
    val bytes =
      if ((raw(0) & 0xFF) == 0x1F && (raw(1) & 0xFF) == 0x8B)
        graft.serde.Zlib.gunzipAll(raw).getOrElse(return Nil)
      else raw
    parseSitemap(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Sitemap blobs → entry rows (flatMap kernel; plain or .xml.gz). */
  def sitemapUrls(ds: Dataset[Media]): Dataset[SitemapUrl] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap { m =>
      parseSitemap(m.media)
        .zipWithIndex.map { case ((l, lm, cf, p, ix), i) =>
          SitemapUrl(m.doc_id, i, l, lm, cf, p, ix)
        }
    })
  }

  /** A urlset or sitemapindex fixture; url locs carry an &amp;-encoded
    * query string (decode load-bearing), priorities on a slice;
    * `gzipped` wraps the whole document (the .xml.gz convention). */
  def syntheticSitemap(index: Boolean, urls: Seq[(String, String, Option[Double])],
      gzipped: Boolean = false): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    sb.append("""<?xml version="1.0" encoding="UTF-8"?>""").append('\n')
    if (index) {
      sb.append("""<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">""")
      urls.foreach { case (loc, lastmod, _) =>
        sb.append("<sitemap>")
          .append(s"<loc>${loc.replace("&", "&amp;")}</loc>")
        if (lastmod.nonEmpty) sb.append(s"<lastmod>$lastmod</lastmod>")
        sb.append("</sitemap>")
      }
      sb.append("</sitemapindex>")
    } else {
      sb.append("""<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">""")
      urls.foreach { case (loc, lastmod, prio) =>
        sb.append("<url>")
          .append(s"<loc>${loc.replace("&", "&amp;")}</loc>")
        if (lastmod.nonEmpty) sb.append(s"<lastmod>$lastmod</lastmod>")
        sb.append("<changefreq>daily</changefreq>")
        prio.foreach(p => sb.append(s"<priority>$p</priority>"))
        sb.append("</url>")
      }
      sb.append("</urlset>")
    }
    val plain = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (!gzipped) plain
    else {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(plain); gz.close()
      bos.toByteArray
    }
  }

  /** robots.txt blobs → rule rows (flatMap kernel). */
  def robotsRules(ds: Dataset[Media]): Dataset[RobotsRule] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap { m =>
      val r = parseRobots(new String(m.media, java.nio.charset.StandardCharsets.UTF_8))
      r.groups.zipWithIndex.flatMap { case ((agents, rules), gi) =>
        for (a <- agents; (isAllow, pat) <- rules)
          yield RobotsRule(m.doc_id, gi, a, if (isAllow) "allow" else "disallow", pat)
      }
    })
  }

  /** (robots blob, probe paths) → per-path decisions for an agent. */
  // ------------------------------------------------------------------
  // SURT url keys + CDX index records (round 13): the lookup layer of
  // a web corpus. Common Crawl's CDXJ index lines are
  // `<urlkey> <timestamp> <json>` where urlkey is the SURT (Sort-
  // friendly URI Reordering Transform) of the capture url — host
  // segments reversed so one domain's captures sort adjacent. The
  // [[Warc]] scaladoc's "per-member offsets in the companion CDX
  // index" is THIS file; a seeking reader joins urlkeys to (filename,
  // offset, length) and fetches single gzip members.
  // ------------------------------------------------------------------

  /** SURT key, the documented Common Crawl urlkey variant: lowercase
    * everything; scheme and fragment dropped; leading `www.` dropped;
    * host segments reversed and comma-joined, `)` before the path;
    * default ports (80/443) dropped, other ports kept as `:port`;
    * query parameters sorted by full `k=v` text and `&`-joined; an
    * empty path stays empty. Total: input without `://` lowercases
    * and passes through (already-a-key posture). */
  private[graft] def surt(url: String): String = {
    if (url == null) return ""
    val u = url.trim.toLowerCase
    val schemeAt = u.indexOf("://")
    if (schemeAt < 0) return u
    val rest0 = u.substring(schemeAt + 3)
    val rest = { val h = rest0.indexOf('#'); if (h >= 0) rest0.substring(0, h) else rest0 }
    val pathAt = rest.indexOf('/')
    val (hostPort, pathQuery) =
      if (pathAt < 0) (rest, "") else (rest.substring(0, pathAt), rest.substring(pathAt))
    val (host0, port) = {
      val c = hostPort.lastIndexOf(':')
      if (c < 0) (hostPort, "")
      else {
        val p = hostPort.substring(c + 1)
        if (p.forall(_.isDigit) && p.nonEmpty) {
          if (p == "80" || p == "443") (hostPort.substring(0, c), "")
          else (hostPort.substring(0, c), ":" + p)
        } else (hostPort, "")
      }
    }
    val host = if (host0.startsWith("www.")) host0.substring(4) else host0
    val revHost = host.split('.').reverse.mkString(",")
    val (path, query) = {
      val q = pathQuery.indexOf('?')
      if (q < 0) (pathQuery, "")
      else {
        val params = pathQuery.substring(q + 1).split('&').filter(_.nonEmpty).sorted
        (pathQuery.substring(0, q),
          if (params.isEmpty) "" else "?" + params.mkString("&"))
      }
    }
    revHost + port + ")" + path + query
  }

  /** SURT keys as a map-stage column op over a url column. */
  def surtKeys(ds: Dataset[(Long, String)]): Dataset[(Long, String)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.map { case (id, u) => (id, surt(u)) }
  }

  /** One CDXJ line: urlkey + 14-digit timestamp + the raw JSON blob —
    * field extraction stays declarative (get_json_object over `json`),
    * the [[Archives.jsonlLines]] split of responsibilities. */
  case class CdxRecord(doc_id: Long, rec_idx: Int, urlkey: String,
      ts: String, json: String)

  /** CDX shard walk (plain or compressed via the shared codec
    * dispatch): lines with fewer than three fields are skipped. */
  def cdxRecords(ds: Dataset[Media]): Dataset[CdxRecord] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap { m =>
      Archives.decompressAny(m.media).toSeq.flatMap { b =>
        new String(b, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n", -1).iterator.map(_.trim).filter(_.nonEmpty)
          .flatMap { line =>
            val s1 = line.indexOf(' ')
            val s2 = if (s1 < 0) -1 else line.indexOf(' ', s1 + 1)
            if (s2 < 0) None
            else Some((line.substring(0, s1), line.substring(s1 + 1, s2),
              line.substring(s2 + 1)))
          }
          .zipWithIndex.map { case ((k, t, j), i) => CdxRecord(m.doc_id, i, k, t, j) }
      }
    })
  }

  /** A CDXJ shard: `captures` = (url, timestamp, json) — the urlkey is
    * computed through [[surt]], which is exactly what makes the
    * q_cdx_records oracle bite on it. */
  def syntheticCdx(captures: Seq[(String, String, String)], compress: Int): Array[Byte] = {
    val text = captures.map { case (url, ts, json) => s"${surt(url)} $ts $json" }
      .map(_ + "\n").mkString
    compress match {
      case 1 =>
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(text.getBytes("UTF-8")); gz.close()
        bos.toByteArray
      case 2 => com.github.luben.zstd.Zstd.compress(text.getBytes("UTF-8"), 3)
      case _ => text.getBytes("UTF-8")
    }
  }

  def robotsDecisions(ds: Dataset[Media], userAgent: String,
      paths: Long => Seq[String]): Dataset[(Long, Int, String, Boolean)] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.flatMap { m =>
      val r = parseRobots(new String(m.media, java.nio.charset.StandardCharsets.UTF_8))
      paths(m.doc_id).zipWithIndex.map { case (p, i) =>
        (m.doc_id, i, p, isAllowed(r, userAgent, p))
      }
    })
  }
}
