package graft.frontier

import org.apache.spark.sql.{Dataset, SparkSession}
import java.sql.Timestamp
import graft.core.{GbHash, GbXml}

/** Deterministic synthetic web corpus (FIXTURES.md §1-3). No wall clock,
  * no randomness outside the fixed seed structure — page content, link
  * graph, robots bodies, and host→IP mapping are all pure functions of
  * the host/page index, so goldens are stable across runs and scales.
  *
  * Shape: `nHosts` hosts named www.h<k>.test; host k has 1 root page,
  * `sections(k)` section pages, and `leaves(k)` leaf pages. Cross-host
  * links follow a Zipf-ish fan-out: host k links to hosts k*2+1, k*3+2,
  * ... so low-k hosts become hot (skew for A8/salting tests). A fixed
  * fraction of hosts serve robots.txt exercising the isAllowed2 quirks,
  * and some pages carry media-extension links (ismedia delete rule).
  *
  * The generator builds pages as a Dataset via spark.range — at sf-bench
  * scale html bodies are synthesized per-row executor-side, never
  * collected to the driver.
  */
object Corpus {

  final case class Spec(nHosts: Int, sectionsPerHost: Int, leavesPerSection: Int) {
    // +2: every host has /feed.xml and /feed2.xml page slots (RSS; only
    // k≡5 (mod 8) hosts advertise them — feed from the root (hop 1),
    // feed2 from section s2 (hop 2) — the rest are unreachable)
    def pagesPerHost: Int = 1 + sectionsPerHost + sectionsPerHost * leavesPerSection + 2
    def feedPage: Int = pagesPerHost - 2
    def feed2Page: Int = pagesPerHost - 1
    def totalPages: Long = nHosts.toLong * pagesPerHost
  }

  /** Hosts k≡5 (mod 8) serve two RSS feeds — exercising Xml::isRSSFeed
    * reply truth, the ParentIsRSS request flag (priority-45/43
    * url-filter rows), <link>-body harvesting, the RSS <a href> harvest
    * skip (XmlDoc.cpp:27626), and the RSS hop-force (XmlDoc.cpp:21565):
    * /feed.xml is advertised from the root (fetched at hop 1 — force
    * inert), /feed2.xml from section s2 (fetched at hop 2 → doc hop
    * forced to 1, items harvested at hop 2, not 3). s2, not s1, because
    * k≡1 (mod 4) hosts robots-disallow /s1 — which also makes feed2's
    * s1-leaf item the ONLY discovery path for that leaf on such hosts,
    * pinning the forced hop in the frontier. */
  def hasFeed(k: Int): Boolean = k % 8 == 5

  val micro: Spec = Spec(8, 2, 3) // ~200 pages
  val small: Spec = Spec(256, 4, 4) // ~5k pages
  val bench: Spec = Spec(2000, 8, 12) // ~200k pages

  /** Hosts k≡3 (mod 8) are DOMAIN-ONLY (no www) and lay their sections
    * out as `/~u<s>/` user dirs — exercising the tagdb/SiteGetter path:
    * the www-prepended site tag (SiteGetter.cpp:655-659), recognized
    * user-dir sites (:611-644), the cold→warm outlink site switch
    * (XmlDoc.cpp:8905-8920), and the site-root hop-0 quirk flip once the
    * www-prepended tag exists (isSiteRootFunc3). */
  def isUserHost(k: Int): Boolean = k % 8 == 3

  def host(k: Int): String = if (isUserHost(k)) s"h$k.test" else s"www.h$k.test"

  /** Section path component: "~u<s>" on user hosts, "s<s>" elsewhere. */
  def secName(k: Int, s: Int): String = if (isUserHost(k)) s"~u$s" else s"s$s"

  /** Deterministic DNS: hosts share IPs ~20% of the time
    * (FIXTURES.md §3: "several hosts share an IP"). */
  def firstIp(k: Int, nHosts: Int): Int = {
    val ipSlot = if (k % 5 == 4) k - 1 else k // host 4 shares host 3's ip etc.
    val ip = GbHash.hash32(s"ip-$ipSlot.test")
    if (ip == 0 || ip == -1) 1 else ip
  }

  def siteNumInlinks(k: Int): Int = if (k % 16 == 0) 9 else k % 8

  /** page index within host: 0 = root, 1..S = sections, leaves, feeds. */
  def pageUrl(k: Int, p: Int, spec: Spec): String = {
    if (p == spec.feed2Page) s"http://${host(k)}/feed2.xml"
    else if (p == spec.feedPage) s"http://${host(k)}/feed.xml"
    else if (p == 0) s"http://${host(k)}/"
    else if (p <= spec.sectionsPerHost) s"http://${host(k)}/${secName(k, p)}/"
    else {
      val li = p - spec.sectionsPerHost - 1
      val sec = li % spec.sectionsPerHost + 1
      val leaf = li / spec.sectionsPerHost
      s"http://${host(k)}/${secName(k, sec)}/leaf$leaf.html"
    }
  }

  /** Hosts k≡6 (mod 8) serve their leaf pages in a NON-UTF-8 charset
    * with a meta charset tag (X7 coverage: the charset-detect + convert
    * path runs on real crawl pages, not just unit fixtures). k≡6
    * (mod 16) stays ISO-8859-1 (so the 8-host micro spec's goldens are
    * stable); k≡14 (mod 16) rotates through the wider codepage set the
    * reference converts via iconv + iana_charset.cpp — koi8-r (ru),
    * iso-8859-2 (pl), shift_jis (ja; multi-byte). */
  def isCharsetPage(k: Int, p: Int, spec: Spec): Boolean =
    k % 8 == 6 && p > spec.sectionsPerHost && p != spec.feedPage && p != spec.feed2Page

  private val rotCharsets = Array("koi8-r", "iso-8859-2", "shift_jis")

  /** The charset a k≡6 (mod 8) host serves its leaves in. */
  def pageCharset(k: Int): String =
    if (k % 16 == 6) "iso-8859-1" else rotCharsets((k / 16) % 3)

  /** Raw page bytes as served: charset-encoded for k≡6 (mod 8) leaves. */
  def pageBytes(k: Int, p: Int, spec: Spec): Array[Byte] = pageBytes(k, p, spec, 0)

  def pageBytes(k: Int, p: Int, spec: Spec, rev: Int): Array[Byte] =
    if (isCharsetPage(k, p, spec)) pageHtml(k, p, spec, rev).getBytes(pageCharset(k))
    else pageHtml(k, p, spec, rev).getBytes("UTF-8")

  /** RSS 2.0 feed body: items link two leaves + a cross-host root. The
    * first item's description embeds a raw `<a href>` anchor — the
    * reference harvests ONLY <link> urls from RSS docs ("we only
    * harvest <link> urls from rss feeds, not href links",
    * XmlDoc.cpp:27626), so the anchor target must never enter the
    * frontier via this feed. */
  def feedXml(k: Int, spec: Spec): String = {
    val sb = new StringBuilder(512)
    sb.append(s"""<?xml version="1.0"?><rss version="2.0"><channel>""")
    sb.append(s"<title>Host $k feed</title><link>http://${host(k)}/</link>")
    sb.append(s"<item><title>entry 0</title><link>http://${host(k)}/s1/leaf0.html</link>")
    sb.append(s"""<description>see <a href="http://${host((k + 5) % spec.nHosts)}/s2/">more</a> inline</description></item>""")
    if (spec.sectionsPerHost >= 2)
      sb.append(s"<item><title>entry 1</title><link>http://${host(k)}/s2/leaf1.html</link></item>")
    sb.append(s"<item><title>peer</title><link>http://${host((k + 3) % spec.nHosts)}/</link></item>")
    sb.append("</channel></rss>")
    sb.toString
  }

  /** The hop-2 feed (advertised from section s2): its doc hop count is
    * forced to 1 by the reference (XmlDoc.cpp:21565-21572), so its items
    * are harvested at hop 2 — pinned by the s1-leaf item, whose ONLY
    * discovery path on robots-/s1-disallowed hosts is this feed. */
  def feed2Xml(k: Int, spec: Spec): String = {
    val sb = new StringBuilder(512)
    sb.append(s"""<?xml version="1.0"?><rss version="2.0"><channel>""")
    sb.append(s"<title>Host $k feed2</title><link>http://${host(k)}/</link>")
    sb.append(s"<item><title>deep 0</title><link>http://${host(k)}/s1/leaf1.html</link>")
    sb.append(s"""<description>also <a href="http://${host((k + 9) % spec.nHosts)}/s2/">anchor</a> here</description></item>""")
    sb.append(s"<item><title>deep 1</title><link>http://${host(k)}/s2/leaf0.html</link></item>")
    sb.append("</channel></rss>")
    sb.toString
  }

  /** Hosts k≡0 (mod 8) MUTATE between corpus revisions (the `rev`
    * parameter): part of their body text changes per rev while the rest
    * stays — so a re-fetch (reindex) of a rev-1 corpus produces a real
    * percentChangedPerDay strictly between 0 and 100
    * (XmlDoc.cpp:9804-9824 page-sample-vector similarity). rev 0 is the
    * corpus every golden crawl uses. */
  def isMutatingHost(k: Int): Boolean = k % 8 == 0

  /** Deterministic html body with links. */
  def pageHtml(k: Int, p: Int, spec: Spec): String = pageHtml(k, p, spec, 0)

  def pageHtml(k: Int, p: Int, spec: Spec, rev: Int): String = {
    if (p == spec.feedPage) return feedXml(k, spec)
    if (p == spec.feed2Page) return feed2Xml(k, spec)
    val sb = new StringBuilder(1024)
    val title = if (p == 0) s"Host $k home" else s"Host $k page $p"
    val meta = if (isCharsetPage(k, p, spec)) s"<meta charset=${pageCharset(k)}>" else ""
    sb.append(s"<html><head>$meta<title>$title</title></head><body>")
    sb.append(s"<h1>$title</h1>")
    sb.append(s"<p>Deterministic body text for host $k page $p. ")
    sb.append(s"Some entities: fish &amp; chips, caf&eacute;, x&nbsp;y.</p>")
    if (isMutatingHost(k)) {
      // stable words + rev-volatile words: the sample vectors of rev 0
      // and rev 1 overlap partially, never fully
      sb.append(s"<p>edition tracker stable anchor words here; volatile ")
      for (j <- 0 until 6) sb.append(s"tok${k}x${p}r${rev}n$j ")
      sb.append("</p>")
    }
    // nav: root links to sections; sections link to leaves; leaves link back
    if (p == 0) {
      if (hasFeed(k))
        sb.append("""<link rel="alternate" type="application/rss+xml" href="/feed.xml">""")
      if (k % 8 == 2) {
        // iframe-expansion fixtures (getExpandedUtf8Content):
        //  - same-host leaf → expands (its text splices into this root)
        //  - cross-host frame on a robots-/s1-disallowed host (k+3 ≡ 1
        //    mod 4) → robots-denied, NOT expanded
        //  - about:blank and google.com → skip rules
        //  - an iframe inside <script> → never a candidate
        val t = (k + 3) % spec.nHosts
        sb.append(s"""<iframe src="/${secName(k, 1)}/leaf0.html"></iframe>""")
        sb.append(s"""<iframe src="http://${host(t)}/${secName(t, 1)}/leaf0.html"></iframe>""")
        sb.append("""<iframe src="about:blank"></iframe>""")
        sb.append("""<iframe src="http://www.google.com/widget"></iframe>""")
        sb.append("""<script>document.write('<iframe src="/s2/leaf1.html">');</script>""")
      }
      if (k % 8 == 7) {
        sb.append(s"""<a href="/old/page.html">old</a> """)
        sb.append(s"""<a href="/moved.html">moved</a> """)
        sb.append(s"""<a href="/loop.html">loop</a> """)
      }
      for (s <- 1 to spec.sectionsPerHost) sb.append(s"""<a href="/${secName(k, s)}/">section $s</a> """)
      // cross-host links with Zipf-ish skew toward low-k hosts (hot hosts)
      val t1 = (k * 2 + 1) % spec.nHosts
      val t2 = (k * 3 + 2) % spec.nHosts
      sb.append(s"""<a href="http://${host(t1)}/">x1</a> """)
      sb.append(s"""<a href="http://${host(t2)}/">x2</a> """)
      sb.append(s"""<a href="http://${host(0)}/">hub</a> """)
      // a media link to exercise the ismedia delete rule
      sb.append(s"""<a href="/logo$k.jpg">logo</a> """)
      // X17/CT fixture: hosts k≡2 (mod 8) serve two PDF urls (pdf is
      // NEITHER ismedia NOR a bad extension, so both schedule and
      // download; the fetch classifies the MIME content type):
      // /doc.pdf carries a text stream → GbPdf converts (the
      // reference's pdftohtml pipe) and it INDEXES; /scan.pdf is
      // image-only (DCTDecode) → converter yields no text →
      // EDOCBADCONTENTTYPE, the reference's empty-filter-output fate
      if (k % 8 == 2) sb.append(
        s"""<a href="/doc.pdf">report</a> <a href="/scan.pdf">scan</a> """)
      // a nofollow link that must NOT be harvested
      sb.append(s"""<a rel="nofollow" href="http://${host((k + 7) % spec.nHosts)}/private/">nf</a> """)
    } else if (p <= spec.sectionsPerHost) {
      if (p == 2 && hasFeed(k))
        sb.append("""<link rel="alternate" type="application/rss+xml" href="/feed2.xml">""")
      val leavesHere = spec.leavesPerSection
      for (l <- 0 until leavesHere) sb.append(s"""<a href="leaf$l.html">leaf $l</a> """)
      sb.append(s"""<a href="/">home</a> """)
      sb.append(s"""<a href="../${secName(k, p % spec.sectionsPerHost + 1)}/">next</a> """)
    } else {
      if (isCharsetPage(k, p, spec)) pageCharset(k) match {
        // non-ASCII bodies, each encodable in its page charset: the
        // charset path (X7) AND the X14 language id path run on real
        // crawl pages. Byte-parity with the reference's iconv conversion
        // is pinned by ref_text.tsv (GenRefCorpus + refharness).
        case "iso-8859-1" =>
          // French body (latin1-encoded) — replies carry lang=fr
          sb.append("<p>Très déjà vu: naïve façade, ½ cup. " +
            "Les enfants sont dans le jardin avec leurs amis et ils jouent " +
            "près de la maison pour une heure après le repas.</p>")
        case "koi8-r" =>
          sb.append("<p>Быстрая коричневая лиса прыгает через ленивую собаку. " +
            "Дети играют в саду возле дома после обеда и они читают книги вместе.</p>")
        case "iso-8859-2" =>
          sb.append("<p>Zażółć gęślą jaźń. Dzieci bawią się w ogrodzie przy domu " +
            "po obiedzie i czytają razem książki przez godzinę każdego dnia.</p>")
        case "shift_jis" =>
          // hiragana/katakana/common kanji only (identical across
          // iconv SHIFT_JIS and java.nio Shift_JIS; no 0x5C/wave-dash
          // ambiguity bytes)
          sb.append("<p>こどもたちはごごににわであそびます。そのあといっしょにほんをよみます。" +
            "きょうはてんきがよくてとてもたのしいです。</p>")
      }
      sb.append(s"""<a href="/">home</a> """)
      // every 3rd leaf links to a sibling host page (deeper discovery)
      if (p % 3 == 0) {
        val k1 = (k + 1) % spec.nHosts
        sb.append(s"""<a href="http://${host(k1)}/${secName(k1, 1)}/">peer</a> """)
      }
      sb.append("<script>var hidden = '<a href=\"/not-a-link.html\">x</a>';</script>")
    }
    sb.append("</body></html>")
    sb.toString
  }

  /** robots.txt bodies: host k≡1 (mod 4) disallows /s1; k≡2 (mod 8) has a
    * crawl-delay; host 2 disallows everything for us via star. */
  def robotsBody(k: Int): Option[String] = {
    if (k % 4 == 1) Some("User-agent: *\nDisallow: /s1\n")
    else if (k % 8 == 2) Some("User-agent: *\nCrawl-delay: .5\nDisallow: /private\n")
    else if (k == 2) Some("User-agent: *\nDisallow: /\n")
    else None
  }

  def warcTs(url: String): Timestamp =
    new Timestamp(1388534400000L + (GbHash.uh48(url) % 31536000000L)) // 2014 + f(uh48)

  // ---------------------------------------------------------------- build

  def pages(spark: SparkSession, spec: Spec): Dataset[PageRow] = pages(spark, spec, 0)

  def pages(spark: SparkSession, spec: Spec, rev: Int): Dataset[PageRow] = {
    import spark.implicits._
    val pph = spec.pagesPerHost
    spark.range(spec.totalPages).mapPartitions { it =>
      it.flatMap { idx =>
        val k = (idx / pph).toInt
        val p = (idx % pph).toInt
        val url = pageUrl(k, p, spec)
        val html = pageBytes(k, p, spec, rev) // latin1-encoded for k≡6 leaves
        val text = GbXml.extractText(html) // verified against reference goldens (ref_text.tsv)
        val row = PageRow(url, warcTs(url), html, text, "en")
        // the k≡2 (mod 8) PDF url rides OUTSIDE the page-slot space so
        // slot numbering (and ref_text golden keys) never move
        if (p == 0 && k % 8 == 2) {
          val pu = s"http://${host(k)}/doc.pdf"
          // a valid text-bearing PDF: one uncompressed content stream,
          // BT/ET text ops → GbPdf converts it and the doc indexes
          val pdf = ("%PDF-1.4\n" +
            "1 0 obj << /Length 96 >> stream\n" +
            s"BT /F1 12 Tf 72 720 Td (host $k report) Tj T* " +
            s"(pdf fixture body for host $k) Tj ET\n" +
            "endstream endobj\n%%EOF\n")
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          val su = s"http://${host(k)}/scan.pdf"
          // image-only PDF: DCTDecode stream, no text ops → converter
          // returns null → EDOCBADCONTENTTYPE (empty filter output)
          val scan = ("%PDF-1.4\n" +
            "1 0 obj << /Filter /DCTDecode /Length 4 >> stream\n" +
            "\u00ff\u00d8\u00ff\u00d9\nendstream endobj\n%%EOF\n")
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          Seq(row,
            PageRow(pu, warcTs(pu), pdf, GbXml.extractText(pdf), "en",
              content_type = "application/pdf"),
            PageRow(su, warcTs(su), scan, GbXml.extractText(scan), "en",
              content_type = "application/pdf"))
        } else Seq(row)
      }
    }
  }

  def hostMeta(spark: SparkSession, spec: Spec): Dataset[HostMeta] = {
    import spark.implicits._
    spark.range(spec.nHosts).map { k =>
      HostMeta(host(k.toInt), firstIp(k.toInt, spec.nHosts), siteNumInlinks(k.toInt))
    }
  }

  /** Redirect fixtures (X17/redirect coverage): hosts k≡7 (mod 8) serve
    *  - /old/page.html → /s1/            (simplified: shorter path depth
    *    → EDOCSIMPLIFIEDREDIR, target re-queued with the hop kept)
    *  - /moved.html    → /s1/leaf0.html  (NOT simplified: deeper target
    *    → followed through, content fetched under the original url)
    *  - /loop.html     → /loop.html      (EDOCREDIRECTSTOSELF)
    * Roots of those hosts link all three. */
  def redirects(spark: SparkSession, spec: Spec): Dataset[RedirectRow] = {
    import spark.implicits._
    spark.range(spec.nHosts).flatMap { kL =>
      val k = kL.toInt
      if (k % 8 == 7) Seq(
        RedirectRow(s"http://${host(k)}/old/page.html", "/s1/"),
        RedirectRow(s"http://${host(k)}/moved.html", "/s1/leaf0.html"),
        RedirectRow(s"http://${host(k)}/loop.html", s"http://${host(k)}/loop.html"))
      else Nil
    }
  }

  def robots(spark: SparkSession, spec: Spec): Dataset[RobotsRow] = {
    import spark.implicits._
    spark.range(spec.nHosts).flatMap { k =>
      robotsBody(k.toInt).map(b => RobotsRow(host(k.toInt), b.getBytes("UTF-8")))
    }
  }

  /** Reindex targets of the pcd golden flow: mutating-host (k≡0 mod 8)
    * pages that the 8-iteration micro crawl indexes; re-fetched against
    * the rev-1 corpus they produce percentChangedPerDay values strictly
    * between the 0 and 100/dt extremes. */
  def pcdReindexUrls: Seq[String] = Seq(
    s"http://${host(0)}/",
    s"http://${host(0)}/s1/leaf0.html",
    s"http://${host(0)}/s2/leaf1.html")

  /** Fixed ordered seed list: roots of hosts 0, 1, 5. */
  def seeds(spec: Spec): Seq[String] = {
    val picks = Seq(0, 1, 5).filter(_ < spec.nHosts)
    picks.map(k => s"http://${host(k)}/")
  }
}
