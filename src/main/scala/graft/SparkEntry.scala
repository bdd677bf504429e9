package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{GbUrl, GbXml, GbLinks, Robots}
import graft.frontier.{Corpus, Crawl}
import graft.rules.{UfnRequest, UfnReply, UrlFilters}
import graft.textops.TextOps

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data ops), each with a DuckDB oracle when
  * SQL-expressible. Crawl-side pure functions are verified against
  * literal VALUES oracles (golden outputs); whole-pipeline queries are
  * rows-only. */
object SparkEntry {

  private def read(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  /** Flagship: native-expression extraction + uh48 over the synthetic
    * corpus (micro) — byte-verifies extract_text against the golden text. */
  def entry(spark: SparkSession): DataFrame = {
    import graft.functions.GraftFunctions._
    Corpus.pages(spark, Corpus.micro)
      .select(col("url"), uh48(col("url")).as("uh48"),
        extractText(col("html")).as("etext"), col("text"))
      .filter(col("etext") === col("text"))
      .select(col("url"), col("uh48"), length(col("text")).cast("long").as("text_len"))
  }

  // fixed crawl-function fixtures (VALUES-oracle inputs)
  private val canonFixtures = Seq(
    "WWW.Example.COM/a/../b//c.html#frag",
    "http://http://www.foo.com/index.html",
    "https://News.Ycombinator.com:443/item?id=1&&x=2",
    "http://www.h0.test\\p\\q.jpg",
    "http://sub.domain.co.uk/path/./x/",
    "http://1.2.3.4:8080/ip")

  private val robotsFixture =
    "User-agent: Gigablast\nCrawl-delay: 2.5\n\nUser-agent: *\nDisallow: /priv\nCrawl-delay: .5\n"

  private val extractFixtures = Seq(
    "<p>fish &amp; chips</p>",
    "<b>bold</b> and <a href=\"/x\">link</a>",
    "<select><option>hidden</option></select>visible")

  private val linksFixture =
    """<html><body><a href="/a.html">A</a><a rel="nofollow" href="/no.html">N</a><a href="http://other.test/x">X</a><link rel="alternate" type="application/rss+xml" href="/feed.xml"><a href="mailto:x@y.z">M</a><a href="b.html#frag">B</a></body></html>"""

  /** Committed crawl goldens on the main classpath (see GenGoldens). */
  private def goldenLines(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/graft/golden/$name")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  /** One shared 8-iteration micro-corpus crawl per JVM — the real
    * frontier the driver-visible oracle queries read from. */
  @volatile private var crawlMemo: String = null
  private def crawlDir(s: SparkSession): String = synchronized {
    if (crawlMemo == null) {
      val w = Dirs.temp("graft_q_crawl")
      Crawl.run(s, w, Corpus.micro, 8)
      crawlMemo = w
    }
    crawlMemo
  }

  /** crawlDir + the pcd golden flow: reindex the mutating-host urls and
    * run iteration 9 against the rev-1 corpus. Snapshots 1-8 stay
    * untouched, so the other frontier queries read the same state. */
  @volatile private var pcdMemo: String = null
  private def pcdDir(s: SparkSession): String = synchronized {
    if (pcdMemo == null) {
      val w = crawlDir(s)
      val spec = Corpus.micro
      Crawl.reindex(s, w, Corpus.pcdReindexUrls, Crawl.Config())
      Crawl.runIteration(s, w, 9, Corpus.pages(s, spec, 1),
        Corpus.robots(s, spec), Corpus.hostMeta(s, spec), Crawl.Config(),
        Crawl.redirectClosure(Corpus.redirects(s, spec)))
      pcdMemo = w
    }
    pcdMemo
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- relational patterns of the crawl loop, on the TPC-H-ish tables
    "q1_lineitem_agg" -> ((s, d) => {
      read(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").cast("long").as("sum_qty"), count(lit(1)).as("cnt"))
    }),
    "a2_winner_topk" -> ((s, d) => {
      // the scheduler's winner-selection window shape (A2)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      read(s, d, "orders").withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rank"))
    }),
    "a2_winner_dole" -> ((s, d) => {
      // the SAME top-k via the custom WinnerDole operator (logical plan +
      // strategy + streamed-heap exec) the compiled scheduler actually
      // uses since r4 — oracle-checked against the SQL window, proving
      // dole-exec ≡ window output
      val o = read(s, d, "orders").select(
        col("o_custkey").cast("int").as("first_ip"),
        col("o_orderkey").as("uh48"),
        col("o_orderkey").cast("string").as("url"),
        lit(0).as("priority"), lit(0).as("ufn"),
        (-round(col("o_totalprice") * 100).cast("long")).as("spider_time_ms"),
        lit(0).as("hop_count"), lit(3).as("ip_max"),
        lit(false).as("was_indexed_in"), lit(0L).as("flags"),
        lit(0).as("site_hash32"), lit(0).as("dom_hash32"))
      graft.plans.WinnerDole(o, 3, 3)
        .select(col("first_ip").cast("long").as("o_custkey"),
          col("uh48").as("o_orderkey"),
          (col("seq_in_ip") + 1).cast("long").as("rank"))
    }),
    "j1_latest_reply" -> ((s, d) => {
      // latest-reply-per-uh48 join shape (J1) on events
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      read(s, d, "events").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("user_id"), col("event_id"))
    }),
    "j2_seen_antijoin" -> ((s, d) => {
      // URL-seen anti-join shape (J2): customers never seen in events.
      // r6: no pre-distinct on the events side — anti-join semantics
      // ignore key multiplicity and the broadcast hash build dedups
      // keys itself, so the distinct's exchange + two aggregates
      // bought nothing (identical rows by construction)
      val c = read(s, d, "customer")
      val e = read(s, d, "events").select(col("user_id").as("c_custkey"))
      c.join(e, Seq("c_custkey"), "left_anti").select("c_custkey")
    }),
    "j3_dedup_merge" -> ((s, d) => {
      // dedup-on-merge (J3): keep min event per (user, type)
      read(s, d, "events").groupBy("user_id", "event_type")
        .agg(min("event_id").as("event_id"))
    }),
    "a6_quota_counts" -> ((s, d) =>
      read(s, d, "documents").groupBy("source").agg(count(lit(1)).as("pages"))),
    "a7_cblock_count" -> ((s, d) =>
      read(s, d, "events").groupBy("user_id")
        .agg(least(countDistinct("event_type"), lit(20)).cast("long").as("cblocks"))),
    "a8_overflow_guard" -> ((s, d) =>
      read(s, d, "events").groupBy("user_id").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 12).select("user_id", "cnt")),

    // ----- crawl pure functions vs literal golden oracles
    "x1_canonicalize" -> ((s, d) => {
      import s.implicits._
      canonFixtures.map { raw =>
        val g = GbUrl.parse(raw)
        (raw, g.url, g.domain, g.tld)
      }.toDF("raw", "url", "domain", "tld")
    }),
    "x2_uh48" -> ((s, d) => {
      import s.implicits._
      canonFixtures.map { raw =>
        val g = GbUrl.parse(raw)
        (g.url, g.uh48, g.hostHash32, g.fakeFirstIp)
      }.toDF("url", "uh48", "host_hash32", "fake_first_ip")
    }),
    "x5_robots" -> ((s, d) => {
      import s.implicits._
      val body = robotsFixture.getBytes("UTF-8")
      Seq("/", "/priv", "/priv/x", "/private", "/pub").map { p =>
        val (a, delay) = Robots.evaluate(p, body)
        (p, a, delay)
      }.toDF("path", "allowed", "delay_ms")
    }),
    "f1_ufn" -> ((s, d) => {
      import s.implicits._
      val now = 1400003600L
      Seq(
        ("http://www.a.com/", 0, false, false, false),
        ("http://www.a.com/", 0, true, false, false),
        ("http://a.com/x", 1, false, false, false),
        ("http://a.com/x.jpg", 2, false, true, false),
        ("http://a.com/deep", 5, false, false, false),
        ("http://www.seed.com/", 0, false, false, true)
      ).map { case (u, hop, hadReply, media, isAdd) =>
        val req = UfnRequest(url = u, hopCount = hop, hadReply = hadReply,
          hasMediaExtension = media, isAddUrl = isAdd, addedTime = now - 1000)
        val rep = if (hadReply) Some(UfnReply(spideredTime = now - 500)) else None
        val n = UrlFilters.urlFilterNum(req, rep, now)
        val pri = if (n >= 0) UrlFilters.defaultWebRules(n).priority else -1
        (u, hop, hadReply, media, isAdd, n, pri)
      }.toDF("url", "hop", "had_reply", "is_media", "is_addurl", "ufn", "priority")
    }),
    "a1_spidertime" -> ((s, d) => {
      import s.implicits._
      val req = UfnRequest(url = "http://www.a.com/", hopCount = 0, addedTime = 1000)
      Seq(UrlFilters.spiderTimeMs(req, 12, None, UrlFilters.defaultWebRules, 2000000L, 5000))
        .toDF("spider_time_ms")
    }),
    "a4_dole_caps" -> ((s, d) => {
      // A4 dole caps on an orders-derived frontier: per-(priority,ip)
      // pre-cap, per-priority cap, global TakeOrdered bound — the exact
      // kernel the scheduler applies under Config.enforceDoleCaps
      val f = read(s, d, "orders").select(
        col("o_orderkey").as("uh48"),
        (col("o_custkey") % 25).cast("int").as("first_ip"),
        (col("o_orderkey") % 3).cast("int").as("priority"),
        (-round(col("o_totalprice") * 100).cast("long")).as("spider_time_ms"))
      graft.frontier.Crawl.doleCapsDF(f, Map(0 -> 2, 1 -> 3, 2 -> 1), 100)
        .select(col("uh48"), col("first_ip").cast("long").as("first_ip"),
          col("priority").cast("long").as("priority"))
    }),
    "x10_extract_text" -> ((s, d) => {
      import s.implicits._
      extractFixtures.map(h => (h, GbXml.extractText(h))).toDF("html", "text")
    }),
    "f7_corrupt" -> ((s, d) => {
      // F7 scan-time corruption filters (Spider.cpp:4113-4155): request
      // urls must start http/digit and addedTime can't be >1 day in the
      // future; replies with future spideredTime or status >= 1000 drop
      import s.implicits._
      val now = 1400000000L
      val reqs = Seq(
        ("http://ok.test/", 1400000000L),
        ("1234567890", 1400000000L), // docid-form pagereindex survives
        ("garbage-url", 1400000000L), // corrupt: not http/digit
        ("http://future.test/", 1400090000L)) // >1 day ahead: corrupt
        .toDF("url", "added_time")
      val reps = Seq(
        ("http://ok.test/", 1399999999L, 200),
        ("http://late.test/", 1400000002L, 200), // future spideredTime
        ("http://weird.test/", 1399999999L, 1000)) // status >= 1000
        .toDF("url", "spidered_time", "http_status")
      graft.frontier.Crawl.requestsFiltered(reqs, now)
        .select(col("url"), lit("request").as("side"))
        .unionByName(graft.frontier.Crawl.repliesFiltered(reps, now)
          .select(col("url"), lit("reply").as("side")))
    }),
    "s2_inject" -> ((s, d) => {
      // S2 injection semantics on a fresh micro workdir: already-present
      // (first_ip, uh48) slots dedup (the shard-slot uniqueness
      // invariant), new urls land with IsInjecting set and IsAddUrl
      // cleared at hop 0 — PageInject.cpp flags, Spider.h:604-605
      import s.implicits._
      val w = Dirs.temp("graft_q_s2")
      val cfg = graft.frontier.Crawl.Config()
      Crawl.init(s, w, Corpus.seeds(Corpus.micro), cfg)
      Crawl.inject(s, w, Seq("http://www.h0.test/", "http://www.x9.test/page.html"), cfg)
      // the injected rows joined snapshot 0's seeds: pick them by flag
      Crawl.loadRequests(s, w, 0).toDF()
        .filter(col("flags").bitwiseAND(lit(graft.frontier.Flags.IsInjecting)) =!= 0L)
        .select(col("url"), col("hop_count"),
          (col("flags").bitwiseAND(lit(graft.frontier.Flags.IsInjecting)) =!= 0L).as("injecting"),
          (col("flags").bitwiseAND(lit(graft.frontier.Flags.IsAddUrl)) =!= 0L).as("addurl"))
    }),
    "s4_warc" -> ((s, d) => {
      // S4 WARC container ingest through the REAL distributed read path
      // (binaryFile → parseWarc → Content-Encoding decode → MIME charset
      // precedence → canonicalize → extract): a deterministic 3-member
      // fixture (plain + gzip + deflate payload members) round-trips
      import graft.sources.Warc
      val blob = Warc.buildWarcEnc(Seq(
        ("http://w1.test/a", "2020-01-01T00:00:00Z",
          "<html><body>plain body</body></html>".getBytes("UTF-8"), ""),
        ("http://w2.test/b", "2020-01-02T00:00:00Z",
          "<html><body>gzip body</body></html>".getBytes("UTF-8"), "gzip"),
        ("http://w3.test/c", "2020-01-03T00:00:00Z",
          "<html><body>deflate body</body></html>".getBytes("UTF-8"), "deflate")))
      val dir = new java.io.File(Dirs.temp("graft_s4"))
      val f = new java.io.File(dir, "fix.warc")
      java.nio.file.Files.write(f.toPath, blob)
      Warc.readPages(s, f.getAbsolutePath).toDF().select(col("url"), col("text"))
    }),
    "a9_status" -> ((s, d) => {
      // A9 SP_* status taxonomy + the per-iteration conversion ladder
      // (maxToCrawl cap beats round accounting; MAXROUNDS only when
      // maxRounds > 0; a scheduling iteration stays IN_PROGRESS)
      import s.implicits._
      import graft.frontier.Crawl.SpiderStatus
      val cases = Seq(
        // (maxToCrawl, downloaded, maxRounds, round, scheduled)
        (1, -1L, 10L, -1, 0, 5L), // urls still scheduled → in progress
        (2, -1L, 10L, -1, 1, 0L), // round exhausted, no limit → round done
        (3, -1L, 10L, 0, 1, 0L), // maxRounds=0 is NO limit → round done
        (4, -1L, 10L, 1, 1, 0L), // round 1 >= maxRounds 1 → maxRounds
        (5, 10L, 10L, -1, 0, 5L), // downloaded >= maxToCrawl wins
        (6, 10L, 9L, -1, 0, 0L)) // under the cap, round exhausted
      cases.map { case (id, mtc, dl, mr, rd, sch) =>
        val st = SpiderStatus.convert(mtc, dl, mr, rd, sch)
        (id, st, SpiderStatus.msg(st))
      }.toDF("id", "status", "msg")
    }),
    "f4_patterns" -> ((s, d) => {
      // F4 pattern predicates (^ prefix, $ suffix with the `$\.` hack,
      // bare substring, ! negation) and list comparisons (tld/lang
      // ==/!= with comma lists) — the UrlFiltersSpec pins as a driver
      // oracle over the real rule-expression evaluator
      import s.implicits._
      val r1 = UfnRequest(url = "http://www.a.com/forum/showthread.php?t=1", hopCount = 1)
      val r2 = UfnRequest(url = "http://www.a.de/x", hopCount = 1)
      val rep = Some(UfnReply(1399999990L, lang = "de"))
      val now = 1400000000L
      val cases = Seq(
        ("^http://www.a.com/", 1), ("^https://", 1), ("$\\.php?t=1", 1),
        ("showthread", 1), ("!wiki", 1), ("wiki", 1), ("$t=1", 1),
        ("tld==de,fr", 2), ("tld==com,org", 2), ("tld!=com,org", 2),
        ("lang==de", 2), ("lang==en", 2))
      cases.map { case (e, which) =>
        val (q, rp) = if (which == 1) (r1, None) else (r2, rep)
        (e, q.url, UrlFilters.ruleMatches(e, q, rp, now))
      }.toDF("expr", "url", "matched")
    }),
    "f6_sitelist" -> ((s, d) => {
      // F6 site-list membership (PageBasic.cpp line grammar: domain,
      // host, seed:, site: path prefix, contains:, -contains: veto,
      // tag:) — the SiteListSpec pins as a driver oracle
      import s.implicits._
      import graft.rules.SiteList
      val sl = new SiteList(Seq(
        "# a comment", "", "example.com", "sub.other.com",
        "seed:http://www.seedy.com/", "site:dir.site.com/docs/",
        "contains:goodword", "-contains:badword", "tag:shallow depth.com"))
      val cases = Seq(
        ("http://example.com/x", ""), ("http://www.example.com/x", ""),
        ("http://sub.other.com/a", ""), ("http://www.other.com/a", ""),
        ("http://www.seedy.com/page", ""), ("http://seedy.com/page", ""),
        ("http://dir.site.com/docs/a.html", ""), ("http://dir.site.com/other/a.html", ""),
        ("http://random.net/goodword/x", ""), ("http://example.com/badword", ""),
        ("http://depth.com/x", "shallow"), ("http://depth.com/x", "deep"),
        ("http://example.com/x", "shallow"))
      cases.map { case (u, tag) =>
        // empty tag = the reference's NULL tagArg (no tag requirement;
        // positive contains: patterns only apply on the NULL path)
        (u, tag, sl.matchingPattern(graft.core.GbUrl.parse(u),
          if (tag.isEmpty) null else tag))
      }.toDF("url", "tag", "matched")
    }),
    "x16_classify" -> ((s, d) => {
      // X16 url classifiers (isBadExtension version-gated list,
      // isLinkLoop path-repeat rule, isSpam host-word ladder with its
      // exception sublists and edu/gov exemption) — same pins as
      // ClassifierSpec, surfaced as a driver oracle
      import s.implicits._
      import graft.core.{GbAdult, GbUrl}
      val urls = Seq(
        "http://a.test/setup.exe", "http://a.test/video.wmv",
        "http://a.test/crawl.warc.gz", "http://a.test/x/x/x/page.html",
        "http://a.test/a/b/a/b/page.html", "http://a.test/a/b/a/c/page.html",
        "http://www.pornsite.test/clean/path", "http://hornyear.com/",
        "http://www.middlesex.test/", "http://analog-devices.test/",
        "http://fuckedcompany.com/", "http://sexstudies.someu.edu/",
        "http://a-very-long-hyphenated-host-name.test/", "http://www.example.com/")
      urls.map { u =>
        val p = GbUrl.parse(u)
        (u, p.isBadExtension(), p.isLinkLoop, GbAdult.isSpam(u))
      }.toDF("url", "bad_ext", "link_loop", "spam")
    }),
    "x7_charset" -> ((s, d) => {
      // X7 charset→UTF-8 conversion + text extraction as a driver
      // oracle. Cases 1-3 embed the SAME bytes as reffix fixtures
      // f72/f73/f76 (goldens produced by the reference-compiled
      // harness — Big5, EUC-KR label, GB18030 4-byte); 4-5 embed
      // reffix f61/f62 (explicit windows-1252 incl. the curly-quote →
      // ASCII fold of the getText normalization; no-meta latin1 sniff
      // fired by a standalone continuation byte — iconv_open
      // ("ISO-8859-1"), the cp1252 alias in ucToAny is dead code);
      // 6 pins the pseudo-UTF-8 swallow: a lone 0xE9 reads as a 3-byte
      // lead so the valid-utf8 scan PASSES, no latin1 fallback, and
      // sanitize drops the bogus sequence (XmlDoc.cpp:18712-18770).
      import s.implicits._
      import graft.core.GbXml
      def hex(h: String): Array[Byte] =
        h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      def ascii(a: String): Array[Byte] =
        a.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val cases = Seq(
        1 -> (ascii("<head><meta charset=big5></head><body>") ++
          hex("a4a4a4e5b4fab8d5c163c5e9a672baf4adb6") ++ ascii(" tail</body>")),
        2 -> (ascii("<head><meta charset=euc-kr></head><body>") ++
          hex("c7d1b1b9beee20c5d7bdbac6ae20b9aebcad20b3bbbfeb") ++ ascii("</body>")),
        3 -> (ascii("<head><meta charset=gb18030></head><body>") ++
          hex("d6d0cec4209432be3420cbc4d7d6bdda") ++ ascii("</body>")),
        4 -> (ascii("<html><head><meta charset=windows-1252></head><body>caf") ++
          hex("e9") ++ ascii(" r") ++ hex("e9") ++ ascii("sum") ++ hex("e9") ++
          ascii(" ") ++ hex("93") ++ ascii("quoted") ++ hex("94") ++
          ascii(" ") ++ hex("80") ++ ascii("uro</body></html>")),
        5 -> (ascii("<body>no meta tag here: na") ++ hex("ef") ++
          ascii("ve fa") ++ hex("e7") ++ ascii("ade ") ++ hex("bd") ++
          ascii(" cup</body>")),
        6 -> (ascii("<body>caf") ++ hex("e9") ++ ascii("</body>")))
      // extractText(bytes) runs the WHOLE chain incl. the charset
      // detect+convert step — converting separately first would run
      // detection twice on a meta-bearing page (the meta still names
      // the source charset after conversion) and corrupt the text
      cases.map { case (id, raw) => (id, GbXml.extractText(raw)) }
        .toDF("id", "text")
    }),
    "x17_mime" -> ((s, d) => {
      // X17 HttpMime quirks as a driver oracle: boundary variants,
      // atol2 status, charset param spacing, 2-space Location skip,
      // CASE-SENSITIVE Content-Encoding, CT table, whitespace-header
      // rejection (each pinned against HttpMime.cpp in GbHttpMimeSpec)
      import s.implicits._
      import graft.core.GbHttpMime
      val cases = Seq(
        1 -> "HTTP/1.1 200 OK\r\nContent-Type: text/html;charset=UTF-8\r\nContent-Length: 5\r\n\r\nhello",
        2 -> "HTTP/1.0 404 NF\n\r\n\rbody",
        3 -> "HTTP/1.1 200", // under 13 bytes: no mime
        4 -> "HTTP/1.1 abc def\r\n\r\n", // atol2: non-numeric → 0
        5 -> "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset = euc-jp\r\n\r\n",
        6 -> "HTTP/1.1 302 F\r\nLocation:  http://a.test/\r\n\r\n",
        7 -> "HTTP/1.1 302 F\r\nLocation:   http://a.test/\r\n\r\n", // 3rd space stays
        8 -> "HTTP/1.1 200 OK\r\nContent-Encoding: x-gzip\r\n\r\n",
        9 -> "HTTP/1.1 200 OK\r\nContent-Encoding: GZIP\r\n\r\n", // strstr is case-sensitive
        10 -> "HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n\r\n",
        11 -> "      \t     \r\n\r\n") // all-whitespace first line: no mime
      cases.map { case (id, hdr) =>
        GbHttpMime.parse(hdr.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)) match {
          case Some(r) => (id, true, r.status, r.contentType, r.charset, r.gzip, r.location)
          case None => (id, false, -1, -1, "", false, "")
        }
      }.toDF("id", "parsed", "status", "content_type", "charset", "gzip", "location")
    }),
    "x11_links" -> ((s, d) => {
      import s.implicits._
      val bytes = linksFixture.getBytes("UTF-8")
      val nodes = GbXml.parse(bytes)
      val base = GbUrl.parse("http://www.site.test/dir/page.html")
      GbLinks.harvest(bytes, nodes, base).map(l => (l.url.url, l.isRSS, l.nofollow))
        .toDF("url", "is_rss", "nofollow")
    }),
    "s1_seed_requests" -> ((s, d) => {
      import s.implicits._
      Corpus.seeds(Corpus.micro).flatMap(Crawl.seedRequest(_, 1400000000L))
        .map(r => (r.url, r.uh48, r.first_ip, r.hop_count))
        .toDF("url", "uh48", "first_ip", "hop_count")
    }),

    // ----- whole-pipeline queries on the REAL frontier, with VALUES
    // oracles built from the committed crawl goldens (driver-visible
    // equivalents of the sbt byte-level goldens)
    "crawl_iteration" -> ((s, d) => {
      val w = crawlDir(s)
      (1 to 3).map(i => s.read.parquet(s"${Crawl.snapDir(w, i)}/fetch_log")).reduce(_ unionByName _)
        .select("iteration", "first_ip", "seq", "url", "priority", "err_code")
    }),
    // DISTINCT: the seen set is a SET of uh48s — the x18_pcd flow
    // appends reindex request ROWS (same uh48, fake-ip signature) into
    // snapshot 8, and query order must not matter
    "j2_seen_frontier" -> ((s, d) =>
      Crawl.loadRequests(s, crawlDir(s), 8).select("uh48").distinct()),
    "a7_inlinks_frontier" -> ((s, d) =>
      Crawl.loadLoopState(s, crawlDir(s), 8, Crawl.Config()).inlinks.toDF()
        .select(col("first_ip"), col("uh48"), size(col("cblocks")).as("n_cblocks"))),
    "s7_titledb" -> ((s, d) =>
      Crawl.loadTitledb(s, crawlDir(s), 8).toDF()
        .select(col("uh48"), col("url"), col("http_status"), col("content_hash32"))),
    // minimal tagdb after the micro crawl: site tags (SiteGetter sites,
    // www-prepend + /~user dirs), pinned firstips, site inlink c-blocks
    "t1_tagdb_sites" -> ((s, d) =>
      Crawl.loadLoopState(s, crawlDir(s), 8, Crawl.Config()).tagState.toDF()
        .select(col("site"), col("first_ip"),
          col("has_site_tag").cast("int").as("has_site_tag"),
          size(col("cblocks")).as("n_cblocks"))),
    // A6 quota state after the micro crawl: indexed-page counts per
    // firstIp/site/dom key + the ^0x123456 manual-add seed counts
    // (m_localTable, Spider.cpp:4355-4421), incrementally maintained
    "a6_quota_frontier" -> ((s, d) =>
      Crawl.loadLoopState(s, crawlDir(s), 8, Crawl.Config()).quotaState
        .select(col("key"), col("n"))),
    // percentChangedPerDay on a REAL mutating re-fetch (reindex → rev-1
    // corpus): values strictly inside (0, 100/dt) — the term-level
    // sample-vector diff, not a hash step function. Micros truncation
    // keeps the float32 → SQL comparison exact.
    "x18_pcd" -> ((s, d) => {
      val w = pcdDir(s)
      val uhs = Corpus.pcdReindexUrls.map(u => graft.core.GbUrl.parse(u).uh48)
      // iteration 9's replies: the ones spidered at its clock
      Crawl.loadReplies(s, w, 9).toDF()
        .filter(col("spidered_time") === Crawl.nowSecs(Crawl.Config(), 9) && col("uh48").isin(uhs: _*))
        .select(col("uh48"),
          (col("percent_changed_per_day") * lit(1000000f)).cast("long").as("pcd_micros"))
    }),

    // ----- training-data ops: dedup
    "dedup_exact" -> ((s, d) => TextOps.exactDupCounts(read(s, d, "documents"))),
    "dedup_ngram_jaccard" -> ((s, d) => TextOps.ngramJaccardPairs(read(s, d, "documents"), 200L, 50)),
    "dedup_minhash_lsh" -> ((s, d) => TextOps.minhashLshCandidates(read(s, d, "documents"), 32, 8, 500L)),
    // cluster assignment over the minhash pair set: connected
    // components by iterative min-label propagation (the post-pair
    // dedup step — one canonical doc per component)
    "dedup_clusters" -> ((s, d) =>
      TextOps.dupClusters(TextOps.minhashLshCandidates(read(s, d, "documents"), 32, 8, 500L))
        .orderBy(col("doc_id"))),
    "dedup_simhash" -> ((s, d) => TextOps.simhashCandidates(read(s, d, "documents"), 500L)),
    "dedup_embedding_cosine" -> ((s, d) => TextOps.embeddingDupPairs(read(s, d, "embeddings"), 300L, 35)),
    // the 100-TB dedup path: banded hyperplane LSH candidates + exact
    // cosine verify of candidates only (recall vs the exact op is
    // measured by GenTextOpsGoldens and recorded in BENCH.md)
    "dedup_embedding_lsh" -> ((s, d) => TextOps.embeddingLshDupPairs(read(s, d, "embeddings"), 35)),

    // ----- training-data ops: similarity search
    "ann_cosine_topk" -> ((s, d) => TextOps.cosineTopK(read(s, d, "embeddings"), 20, 5)),
    "ann_lsh_topk" -> ((s, d) => TextOps.lshCosineTopK(read(s, d, "embeddings"), 20, 5)),

    // ----- training-data ops: text analysis + multimodal plumbing
    "text_tokens" -> ((s, d) => TextOps.tokenCounts(read(s, d, "documents"))
      .select(col("doc_id"), col("ws_tokens").cast("long").as("ws_tokens"), col("re_tokens").cast("long").as("re_tokens"))),
    "text_quality" -> ((s, d) => TextOps.qualityStats(read(s, d, "documents"))
      .select(col("doc_id"), col("n_chars"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("stopword_count").cast("long").as("stopword_count"),
        col("distinct_tokens").cast("long").as("distinct_tokens"))),
    "text_langid" -> ((s, d) => TextOps.langId(read(s, d, "documents"))),
    "text_fingerprint" -> ((s, d) => TextOps.fingerprints(read(s, d, "documents"))),
    "mm_decode" -> ((s, d) => {
      // binary media column round-trip: synthesize a VALID container per
      // doc (PNG/GIF/BMP bytes, dims = arithmetic on doc_id), then prove
      // the header decoder parses those dims back OUT OF THE BYTES —
      // the oracle recomputes the arithmetic directly
      val blob = udf((id: Long) => TextOps.mediaBlob(id, TextOps.mediaFixtureFormat(id)))
      TextOps.decodeMedia(read(s, d, "documents").withColumn("blob", blob(col("doc_id"))), "blob", "doc_id")
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"))
    }),

    // ----- search-side slice (SURVEY §2.6): AND-intersection → score →
    // site-clustered top-k over the documents table
    "q2_search_topk" -> ((s, d) =>
      graft.search.Search.searchTopK(read(s, d, "documents"),
        "doc_id", "text", "source", "spark hash merge", 20)),
    // q2 + the windowed proximity bonus (Posdb.cpp:1266 sliding-window
    // idea at its simplest): +10 per unordered pair of different query
    // terms within 8 token positions
    "q3_search_prox" -> ((s, d) =>
      graft.search.Search.searchTopK(read(s, d, "documents"),
        "doc_id", "text", "source", "spark hash merge", 20,
        proxWindow = 8, proxBonus = 10L)),
    // density-rank scoring (Posdb's per-sentence density weights,
    // squared — XmlDoc.cpp getDensityRanks + Posdb.cpp initWeights):
    // a hit in a terse sentence outranks one in a run-on
    "q4_search_density" -> ((s, d) =>
      graft.search.Search.searchDensityTopK(read(s, d, "documents"),
        "doc_id", "text", "source", "spark hash merge", 20)),
    // quoted-phrase query served from bigram phrase termlists
    // (Phrases.cpp setPhrase ids; Query.cpp in-quotes terms): the n-1
    // bigram lists intersect on the positional chain pos_k = start+k;
    // score = full-phrase occurrence count
    "q5_search_phrase" -> ((s, d) =>
      graft.search.Search.searchPhraseTopK(read(s, d, "documents"),
        "doc_id", "text", "source", "slow hash batch", 20)),
    // string facet over the FULL result set (gbfacetstr:field —
    // Posdb.cpp:7339 facet votes happen even for docs outside the
    // winner tree; Msg40.cpp:6454 prints value+count)
    "q6_search_facets" -> ((s, d) =>
      graft.search.Search.searchFacetStr(read(s, d, "documents"),
        "doc_id", "text", "lang", "spark hash merge")),
    // int range facet histogram (gbfacetint:field,a-b,... — the
    // Query.cpp:2662 CONDENSE THE FACETS logic: first containing
    // range wins, empty ranges report zeroed buckets)
    "q7_search_facet_ranges" -> ((s, d) =>
      graft.search.Search.searchFacetInt(read(s, d, "documents"),
        "doc_id", "text", "n_chars", "spark hash merge",
        Seq((0L, 200L), (200L, 400L), (400L, 800L), (800L, 1600L), (1600L, 1000000L)))),
    // per-result best-window summaries (Summary.cpp:656 getBestWindow
    // scoring skeleton: 100/word, 100000/match with the /15 in-window
    // repeat damping; windows anchored at matches; earliest wins ties)
    "q8_search_summary" -> ((s, d) =>
      graft.search.Search.searchSummaries(read(s, d, "documents"),
        "doc_id", "text", "source", "spark hash merge", 10)),
    // summaries with term highlighting (Highlight.cpp s_frontTags
    // color spans, colorNum = query-term index % 10)
    "q9_search_highlight" -> ((s, d) =>
      graft.search.Search.searchSummaries(read(s, d, "documents"),
        "doc_id", "text", "source", "spark hash merge", 10,
        highlight = true)),
    // related-topic "gigabits" over the result set (Msg40.cpp:3484
    // computeGigabits / :4320 hashExcerpt: QTR proximity zones,
    // once-per-doc master merge, gbscore × numPages ranking with the
    // single-page /4 penalty)
    "q10_search_gigabits" -> ((s, d) =>
      graft.search.Search.searchGigabits(read(s, d, "documents"),
        "doc_id", "text", "source", "spark hash merge", 10)),
    // negative query terms ('my house -home': Query.cpp:2494 sign
    // parse; Posdb.cpp:5841 rmDocIdVotes removes the minus term's
    // docids from the vote buffer)
    "q11_search_minus" -> ((s, d) =>
      graft.search.Search.searchMinusTopK(read(s, d, "documents"),
        "doc_id", "text", "source", "spark hash -merge", 20)),
    // the reference's maximin ranking shape: doc score = min over query
    // term pairs of the best occurrence-pair distance kernel
    // (Posdb.cpp:2929 "ZAK'S ALGO" min-pair loop; :3548 the
    // 100/(dist+1) kernel; :1395 term-freq weights)
    "q12_search_pairmin" -> ((s, d) =>
      graft.search.Search.searchPairMinTopK(read(s, d, "documents"),
        "doc_id", "text", "source", "spark hash merge", 20)),
    // site: field query (Query.cpp:442 FIELD_SITE) — results restricted
    // to one site, with a -site: exclusion in the same parse
    "q13_search_site" -> ((s, d) =>
      graft.search.Search.searchMinusTopK(read(s, d, "documents"),
        "doc_id", "text", "source", "spark hash site:src3", 10)),
    // boolean expressions (Query.cpp m_isBoolean; isTruth over the
    // per-doc term-presence bit vector, Query.h:193): parens, NOT,
    // left-to-right AND/OR without precedence — the same parse renders
    // the Spark predicate AND the oracle SQL
    "q14_search_bool" -> ((s, d) =>
      graft.search.Search.searchBoolTopK(read(s, d, "documents"),
        "doc_id", "text", "source", boolQuery, 20)),
    // multi-word gigabits: single words and adjacent bigrams in ONE
    // ranking with the numWords multiplier (gigabitCmp,
    // Msg40.cpp:3459: "King John on 6 pages should be John on 12")
    "q15_search_gigabit_phrases" -> ((s, d) =>
      graft.search.Search.searchGigabitPhrases(read(s, d, "documents"),
        "doc_id", "text", "source", "spark hash merge", 10))
  )

  /** The q14 boolean query — shared by the Spark entry and the oracle. */
  private val boolQuery = "spark AND (hash OR merge) AND NOT batch"

  /** Shared q10/q15 oracle prefix: q2's clustered top-10 result set →
    * candidate occurrences with QTR-zone proximity scores (`occ`). */
  private def gigabitOccCte: String =
    "WITH toks AS (SELECT doc_id, source, unnest(arr) AS w, generate_subscripts(arr, 1) - 1 AS pos " +
      "FROM (SELECT doc_id, source, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr FROM documents)), " +
      "toks2 AS (SELECT doc_id, source, w, pos FROM toks WHERE w <> ''), " +
      "tf AS (SELECT doc_id, source, w, count(*) AS tf FROM toks2 WHERE w IN ('spark','hash','merge') GROUP BY 1,2,3), " +
      "sc AS (SELECT doc_id, source, sum(tf) AS score FROM tf GROUP BY 1,2 HAVING count(DISTINCT w) = 3), " +
      "cl AS (SELECT doc_id, score FROM (SELECT doc_id, score, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS sr FROM sc) WHERE sr <= 2), " +
      "topk AS (SELECT doc_id FROM (SELECT doc_id, score FROM cl ORDER BY score DESC, doc_id ASC LIMIT 10)), " +
      "m AS (SELECT t.doc_id, t.w AS mterm, t.pos AS mpos FROM toks2 t JOIN topk k ON t.doc_id = k.doc_id WHERE t.w IN ('spark','hash','merge')), " +
      "c AS (SELECT t.doc_id, t.pos, t.w FROM toks2 t JOIN topk k ON t.doc_id = k.doc_id " +
      "WHERE length(t.w) >= 4 AND t.w NOT IN ('spark','hash','merge') " +
      s"AND t.w NOT IN (${TextOps.stopwords.map(s => s"'$s'").mkString(",")}) " +
      "AND t.w NOT LIKE '%ed' AND t.w NOT LIKE '%ing'), " +
      "d AS (SELECT c.doc_id, c.pos, c.w, m.mterm, min(abs(c.pos - m.mpos)) AS d " +
      "FROM c JOIN m ON c.doc_id = m.doc_id GROUP BY 1,2,3,4 HAVING min(abs(c.pos - m.mpos)) < 20), " +
      "occ AS (SELECT doc_id, pos, w, sum(CASE WHEN d < 4 THEN 1000 WHEN d < 8 THEN 800 WHEN d < 12 THEN 500 ELSE 200 END) AS prox FROM d GROUP BY 1,2,3), "

  /** Builds a DuckDB VALUES oracle from a committed golden tsv. `cols`:
    * (name, sqlType, quoted). */
  private def valuesOracle(file: String, cols: Seq[(String, String, Boolean)]): String = {
    val rows = goldenLines(file).map { l =>
      val f = l.split('\t')
      cols.zipWithIndex.map { case ((_, _, q), i) =>
        if (q) "'" + f(i).replace("'", "''") + "'" else f(i)
      }.mkString("(", ", ", ")")
    }
    val sel = cols.map { case (n, t, _) => s"CAST($n AS $t) AS $n" }.mkString(", ")
    val names = cols.map(_._1).mkString(", ")
    s"SELECT $sel FROM (VALUES ${rows.mkString(",")}) AS t($names)"
  }

  /** q8/q9 oracle: q2's clustered top-10, then the best 20-token window
    * per result (Summary.cpp scoring skeleton — 100/word, 100000/match,
    * integer /15 repeat damping, earliest window on ties), snippet =
    * window tokens; q9 wraps matches in the Highlight.cpp color spans
    * (term index % 10). Positions are the ORIGINAL split-array slots
    * (empty artifacts occupy positions, matching Search.postings). */
  private def summaryOracle(highlight: Boolean): String = {
    val wordExpr =
      if (!highlight) "t.w"
      else "CASE t.w " +
        Seq("spark", "hash", "merge").zipWithIndex.map { case (t, i) =>
          f"WHEN '$t' THEN '<span class=\"gbcnst gbcnst${i % 10}%02d\">' || t.w || '</span>'"
        }.mkString(" ") + " ELSE t.w END"
    "WITH toks AS (SELECT doc_id, source, unnest(arr) AS w, generate_subscripts(arr, 1) - 1 AS pos " +
      "FROM (SELECT doc_id, source, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr FROM documents)), " +
      "toks2 AS (SELECT doc_id, source, w, pos FROM toks WHERE w <> ''), " +
      "tf AS (SELECT doc_id, source, w, count(*) AS tf FROM toks2 WHERE w IN ('spark','hash','merge') GROUP BY 1,2,3), " +
      "sc AS (SELECT doc_id, source, sum(tf) AS score FROM tf GROUP BY 1,2 HAVING count(DISTINCT w) = 3), " +
      "cl AS (SELECT doc_id, score FROM (SELECT doc_id, score, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS sr FROM sc) WHERE sr <= 2), " +
      "topk AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank " +
      "FROM (SELECT doc_id, score FROM cl ORDER BY score DESC, doc_id ASC LIMIT 10)), " +
      "m AS (SELECT t.doc_id, t.pos AS a FROM toks2 t JOIN topk k ON t.doc_id = k.doc_id WHERE t.w IN ('spark','hash','merge')), " +
      "win AS (SELECT m.doc_id, m.a, t.pos, t.w FROM m JOIN toks2 t ON t.doc_id = m.doc_id AND t.pos >= m.a AND t.pos < m.a + 20), " +
      "ts AS (SELECT doc_id, a, sum(100000 + (cnt - 1) * 6666) AS match_score, sum(cnt) AS n_match " +
      "FROM (SELECT doc_id, a, w, count(*) AS cnt FROM win WHERE w IN ('spark','hash','merge') GROUP BY 1,2,3) GROUP BY 1,2), " +
      "ws AS (SELECT win.doc_id, win.a, ts.match_score + 100 * (count(*) - ts.n_match) AS w_score " +
      "FROM win JOIN ts ON win.doc_id = ts.doc_id AND win.a = ts.a GROUP BY 1,2,ts.match_score,ts.n_match), " +
      "best AS (SELECT doc_id, a FROM (SELECT doc_id, a, row_number() OVER (PARTITION BY doc_id ORDER BY w_score DESC, a ASC) AS wr FROM ws) WHERE wr = 1), " +
      s"snip AS (SELECT b.doc_id, string_agg($wordExpr, ' ' ORDER BY t.pos) AS summary " +
      "FROM best b JOIN toks2 t ON t.doc_id = b.doc_id AND t.pos >= b.a AND t.pos < b.a + 20 GROUP BY 1) " +
      "SELECT k.doc_id, k.rank, s.summary FROM topk k JOIN snip s ON k.doc_id = s.doc_id ORDER BY k.rank"
  }

  def oracleSql: Map[String, String] = Map(
    // deterministic textops whose math DuckDB can't recompute
    // (tabulation-hash signatures, hyperplane buckets): VALUES oracles
    // from goldens generated once over the fixed sf0.01 testdata
    // (GenTextOpsGoldens)
    "dedup_minhash_lsh" -> valuesOracle("textops_minhash_lsh.tsv",
      Seq(("doc_a", "BIGINT", false), ("doc_b", "BIGINT", false))),
    // clusters: transitive closure over the SAME committed pair golden
    // (min reachable doc_id per component, recursive CTE)
    "dedup_clusters" ->
      ("WITH RECURSIVE p AS (" +
        valuesOracle("textops_minhash_lsh.tsv",
          Seq(("doc_a", "BIGINT", false), ("doc_b", "BIGINT", false))) + "), " +
        "e AS (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p), " +
        "n AS (SELECT DISTINCT src AS id FROM e), " +
        "reach(id, lbl) AS (SELECT id, id FROM n " +
        "UNION SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id) " +
        "SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY 1 ORDER BY 1"),
    "dedup_simhash" -> valuesOracle("textops_simhash.tsv",
      Seq(("doc_a", "BIGINT", false), ("doc_b", "BIGINT", false), ("hamming", "INTEGER", false))),
    "ann_lsh_topk" -> valuesOracle("textops_ann_lsh.tsv",
      Seq(("q_id", "BIGINT", false), ("neighbor_id", "BIGINT", false), ("rank", "INTEGER", false))),
    "text_fingerprint" -> valuesOracle("textops_fingerprint.tsv",
      Seq(("doc_id", "BIGINT", false), ("fingerprint", "BIGINT", false))),
    "text_langid" -> valuesOracle("textops_langid.tsv",
      Seq(("doc_id", "BIGINT", false), ("pred_lang", "VARCHAR", true), ("lang", "VARCHAR", true))),
    "mm_decode" ->
      ("SELECT doc_id, " +
        "CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'bmp' ELSE 'unknown' END AS format, " +
        "CAST(CASE WHEN doc_id % 4 = 3 THEN -1 ELSE 1 + (doc_id*7+3) % 64 END AS BIGINT) AS width, " +
        "CAST(CASE WHEN doc_id % 4 = 3 THEN -1 ELSE 1 + (doc_id*13+5) % 64 END AS BIGINT) AS height " +
        "FROM documents"),
    "q2_search_topk" ->
      ("WITH toks AS (SELECT doc_id, source, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w FROM documents), " +
        "tf AS (SELECT doc_id, source, w, count(*) AS tf FROM toks WHERE w IN ('spark','hash','merge') GROUP BY 1,2,3), " +
        "scored AS (SELECT doc_id, source, sum(tf) AS score FROM tf GROUP BY 1,2 HAVING count(DISTINCT w) = 3), " +
        "clustered AS (SELECT doc_id, score FROM (SELECT doc_id, score, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS sr FROM scored) WHERE sr <= 2), " +
        "topk AS (SELECT doc_id, CAST(score AS BIGINT) AS score FROM clustered ORDER BY score DESC, doc_id ASC LIMIT 20) " +
        "SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM topk"),
    "q3_search_prox" ->
      ("WITH toks AS (SELECT doc_id, source, unnest(arr) AS w, generate_subscripts(arr, 1) - 1 AS pos " +
        "FROM (SELECT doc_id, source, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr FROM documents)), " +
        "posts AS (SELECT doc_id, source, w, pos FROM toks WHERE w IN ('spark','hash','merge')), " +
        "tf AS (SELECT doc_id, source, w, count(*) AS tf FROM posts GROUP BY 1,2,3), " +
        "base AS (SELECT doc_id, source, sum(tf) AS base_score FROM tf GROUP BY 1,2 HAVING count(DISTINCT w) = 3), " +
        "near AS (SELECT a.doc_id AS doc_id, count(*) AS n_near FROM posts a JOIN posts b " +
        "ON a.doc_id = b.doc_id AND a.w < b.w AND abs(a.pos - b.pos) <= 8 GROUP BY 1), " +
        "scored AS (SELECT base.doc_id AS doc_id, source, base_score + 10 * coalesce(n_near, 0) AS score " +
        "FROM base LEFT JOIN near ON base.doc_id = near.doc_id), " +
        "clustered AS (SELECT doc_id, score FROM (SELECT doc_id, score, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS sr FROM scored) WHERE sr <= 2), " +
        "topk AS (SELECT doc_id, CAST(score AS BIGINT) AS score FROM clustered ORDER BY score DESC, doc_id ASC LIMIT 20) " +
        "SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM topk"),
    "q4_search_density" ->
      ("WITH sents AS (SELECT doc_id, source, unnest(arr) AS sent, generate_subscripts(arr, 1) - 1 AS sidx " +
        "FROM (SELECT doc_id, source, string_split_regex(text, '[.!?]+') AS arr FROM documents)), " +
        "words AS (SELECT doc_id, source, sidx, unnest(regexp_split_to_array(lower(sent), '[^a-z0-9]+')) AS w FROM sents), " +
        "toks AS (SELECT * FROM words WHERE w <> ''), " +
        "stats AS (SELECT doc_id, sidx, least(1.0, 0.35 * power(1.03445, greatest(1, 32 - count(*)))) AS dw FROM toks GROUP BY 1,2), " +
        "matched AS (SELECT * FROM toks WHERE w IN ('spark','hash','merge')), " +
        "anddocs AS (SELECT doc_id FROM matched GROUP BY 1 HAVING count(DISTINCT w) = 3), " +
        "persent AS (SELECT doc_id, source, sidx, count(*) AS m FROM matched GROUP BY 1,2,3), " +
        "scored AS (SELECT p.doc_id AS doc_id, p.source AS source, CAST(round(1e6 * sum(p.m * s.dw * s.dw)) AS BIGINT) AS score " +
        "FROM persent p JOIN stats s ON p.doc_id = s.doc_id AND p.sidx = s.sidx " +
        "WHERE p.doc_id IN (SELECT doc_id FROM anddocs) GROUP BY 1,2), " +
        "clustered AS (SELECT doc_id, score FROM (SELECT doc_id, score, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS sr FROM scored) WHERE sr <= 2), " +
        "topk AS (SELECT doc_id, score FROM clustered ORDER BY score DESC, doc_id ASC LIMIT 20) " +
        "SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM topk"),
    "q5_search_phrase" ->
      ("WITH toks AS (SELECT doc_id, source, unnest(arr) AS w, generate_subscripts(arr, 1) - 1 AS pos " +
        "FROM (SELECT doc_id, source, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr FROM documents)), " +
        "st AS (SELECT a.doc_id AS doc_id, a.source AS source " +
        "FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 " +
        "JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 " +
        "WHERE a.w = 'slow' AND b.w = 'hash' AND c.w = 'batch'), " +
        "scored AS (SELECT doc_id, source, count(*) AS score FROM st GROUP BY 1,2), " +
        "clustered AS (SELECT doc_id, score FROM (SELECT doc_id, score, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS sr FROM scored) WHERE sr <= 2), " +
        "topk AS (SELECT doc_id, CAST(score AS BIGINT) AS score FROM clustered ORDER BY score DESC, doc_id ASC LIMIT 20) " +
        "SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM topk"),
    "q6_search_facets" ->
      ("WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w FROM documents), " +
        "anddocs AS (SELECT doc_id FROM toks WHERE w IN ('spark','hash','merge') GROUP BY 1 HAVING count(DISTINCT w) = 3), " +
        "f AS (SELECT lang AS facet_value, CAST(count(DISTINCT d.doc_id) AS BIGINT) AS n_docs " +
        "FROM documents d JOIN anddocs a ON d.doc_id = a.doc_id GROUP BY 1) " +
        "SELECT facet_value, n_docs, CAST(row_number() OVER (ORDER BY n_docs DESC, facet_value ASC) AS INTEGER) AS rank " +
        "FROM f ORDER BY n_docs DESC, facet_value ASC"),
    "q7_search_facet_ranges" ->
      ("WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w FROM documents), " +
        "anddocs AS (SELECT doc_id FROM toks WHERE w IN ('spark','hash','merge') GROUP BY 1 HAVING count(DISTINCT w) = 3), " +
        "ranges AS (SELECT * FROM (VALUES (0, 200), (200, 400), (400, 800), (800, 1600), (1600, 1000000)) AS r(lo, hi)), " +
        "voted AS (SELECT r.lo AS range_lo, d.doc_id AS doc_id, d.n_chars AS fval " +
        "FROM documents d JOIN anddocs a ON d.doc_id = a.doc_id " +
        "JOIN ranges r ON d.n_chars >= r.lo AND d.n_chars < r.hi) " +
        "SELECT CAST(r.lo AS BIGINT) AS range_lo, " +
        "CAST(coalesce(count(DISTINCT v.doc_id), 0) AS BIGINT) AS n_docs, " +
        "CAST(coalesce(sum(v.fval), 0) AS BIGINT) AS val_sum, " +
        "CAST(coalesce(min(v.fval), 0) AS BIGINT) AS val_min, " +
        "CAST(coalesce(max(v.fval), 0) AS BIGINT) AS val_max " +
        "FROM ranges r LEFT JOIN voted v ON v.range_lo = r.lo GROUP BY 1 ORDER BY 1"),
    "q8_search_summary" -> summaryOracle(highlight = false),
    "q9_search_highlight" -> summaryOracle(highlight = true),
    // q10: q2's clustered top-10 result set, then single-word gigabits
    // (candidates ≥4 chars, non-query, non-stopword, no -ed/-ing; QTR
    // zone bonuses off nearest query match; per-doc max × 4.0 pop
    // boost; master merge once per doc; ×numPages, /4 if single-page)
    "q10_search_gigabits" ->
      (gigabitOccCte +
        "pd AS (SELECT doc_id, w, max(prox) * 4.0 AS doc_score FROM occ GROUP BY 1,2), " +
        "ma AS (SELECT w, sum(doc_score) AS gbscore, count(*) AS num_pages FROM pd GROUP BY 1) " +
        "SELECT w AS term, CAST(gbscore * num_pages / (CASE WHEN num_pages <= 1 THEN 4.0 ELSE 1.0 END) AS DOUBLE) AS gb_score, num_pages " +
        "FROM ma ORDER BY gb_score DESC, num_pages DESC, term ASC LIMIT 20"),
    // q15: singles + adjacent bigrams in one ranking, × numWords; a
    // bigram's prox = max of its two words' prox (second word may be
    // any token; non-candidates contribute 0)
    "q15_search_gigabit_phrases" ->
      (gigabitOccCte +
        "tk AS (SELECT t.doc_id, t.pos, t.w FROM toks2 t JOIN topk k ON t.doc_id = k.doc_id), " +
        "pd1 AS (SELECT doc_id, w AS term, max(prox) * 4.0 AS doc_score, 1 AS num_words FROM occ GROUP BY 1,2), " +
        "bg AS (SELECT o.doc_id, o.w || ' ' || t2.w AS term, greatest(o.prox, coalesce(o2.prox, 0)) AS prox " +
        "FROM occ o JOIN tk t2 ON t2.doc_id = o.doc_id AND t2.pos = o.pos + 1 " +
        "LEFT JOIN occ o2 ON o2.doc_id = o.doc_id AND o2.pos = o.pos + 1), " +
        "pd2 AS (SELECT doc_id, term, max(prox) * 4.0 AS doc_score, 2 AS num_words FROM bg GROUP BY 1,2), " +
        "ma AS (SELECT term, num_words, sum(doc_score) AS gbscore, count(*) AS num_pages " +
        "FROM (SELECT * FROM pd1 UNION ALL SELECT * FROM pd2) GROUP BY 1,2) " +
        "SELECT term, CAST(gbscore * num_pages * num_words / (CASE WHEN num_pages <= 1 THEN 4.0 ELSE 1.0 END) AS DOUBLE) AS gb_score, " +
        "num_pages, CAST(num_words AS INTEGER) AS num_words " +
        "FROM ma ORDER BY gb_score DESC, num_pages DESC, term ASC LIMIT 20"),
    // q12: min over term pairs of max over occurrence pairs of
    // 100/(dist+1), dist = max(2Δ,2)−2 (+1 out of query order), times
    // both terms' freq weights 0.5+min(df/N,0.5); micro-unit BIGINT
    "q12_search_pairmin" ->
      ("WITH toks AS (SELECT doc_id, source, unnest(arr) AS w, generate_subscripts(arr, 1) - 1 AS pos " +
        "FROM (SELECT doc_id, source, regexp_split_to_array(lower(text), '[^a-z0-9]+') AS arr FROM documents)), " +
        "posts AS (SELECT doc_id, pos, CASE w WHEN 'spark' THEN 0 WHEN 'hash' THEN 1 ELSE 2 END AS qi " +
        "FROM toks WHERE w IN ('spark','hash','merge')), " +
        "nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents), " +
        "fw AS (SELECT qi, 0.5 + least(count(DISTINCT doc_id) / (SELECT n FROM nd), 0.5) AS fw FROM posts GROUP BY 1), " +
        "pb AS (SELECT a.doc_id, a.qi AS ia, b.qi AS ib, " +
        "max(100.0 / (greatest(2, 2 * abs(a.pos - b.pos)) - 2 + (CASE WHEN b.pos < a.pos THEN 1 ELSE 0 END) + 1)) AS best " +
        "FROM posts a JOIN posts b ON a.doc_id = b.doc_id AND a.qi < b.qi GROUP BY 1,2,3), " +
        "pbw AS (SELECT pb.doc_id, pb.best * fa.fw * fb.fw AS best FROM pb " +
        "JOIN fw fa ON fa.qi = pb.ia JOIN fw fb ON fb.qi = pb.ib), " +
        "sc AS (SELECT doc_id, CAST(round(min(best) * 1e6) AS BIGINT) AS score FROM pbw GROUP BY 1 HAVING count(*) = 3), " +
        "scs AS (SELECT s.doc_id, s.score, d.source FROM sc s JOIN documents d ON d.doc_id = s.doc_id), " +
        "clustered AS (SELECT doc_id, score FROM (SELECT doc_id, score, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS sr FROM scs) WHERE sr <= 2), " +
        "topk AS (SELECT doc_id, score FROM clustered ORDER BY score DESC, doc_id ASC LIMIT 20) " +
        "SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM topk"),
    // q13: q2 scoring restricted to one site (site: field)
    "q13_search_site" ->
      ("WITH toks AS (SELECT doc_id, source, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w FROM documents), " +
        "tf AS (SELECT doc_id, source, w, count(*) AS tf FROM toks WHERE w IN ('spark','hash') GROUP BY 1,2,3), " +
        "scored AS (SELECT doc_id, source, sum(tf) AS score FROM tf GROUP BY 1,2 HAVING count(DISTINCT w) = 2), " +
        "kept AS (SELECT doc_id, source, score FROM scored WHERE source = 'src3'), " +
        "clustered AS (SELECT doc_id, score FROM (SELECT doc_id, score, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS sr FROM kept) WHERE sr <= 2), " +
        "topk AS (SELECT doc_id, CAST(score AS BIGINT) AS score FROM clustered ORDER BY score DESC, doc_id ASC LIMIT 10) " +
        "SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM topk"),
    // q14: the SAME boolean parse renders this SQL (boolOracleParts) —
    // presence bits from a per-doc tf pivot, score = Σ positive tf
    "q14_search_bool" -> {
      val (terms, boolSql, positive) = graft.search.Search.boolOracleParts(boolQuery)
      val inList = terms.map(t => s"'$t'").mkString(",")
      val pivotCols = terms.map(t => s"max(CASE WHEN w = '$t' THEN tf END) AS tf_$t").mkString(", ")
      val scoreSql = positive.map(t => s"coalesce(tf_$t, 0)").mkString(" + ")
      "WITH toks AS (SELECT doc_id, source, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w FROM documents), " +
        s"tf AS (SELECT doc_id, source, w, count(*) AS tf FROM toks WHERE w IN ($inList) GROUP BY 1,2,3), " +
        s"pv AS (SELECT doc_id, source, $pivotCols FROM tf GROUP BY doc_id, source), " +
        s"kept AS (SELECT doc_id, source, $scoreSql AS score FROM pv WHERE $boolSql AND $scoreSql > 0), " +
        "clustered AS (SELECT doc_id, score FROM (SELECT doc_id, score, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS sr FROM kept) WHERE sr <= 2), " +
        "topk AS (SELECT doc_id, CAST(score AS BIGINT) AS score FROM clustered ORDER BY score DESC, doc_id ASC LIMIT 20) " +
        "SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM topk"
    },
    // q11: q2 scoring over the plus terms, minus-term docids vetoed
    "q11_search_minus" ->
      ("WITH toks AS (SELECT doc_id, source, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w FROM documents), " +
        "tf AS (SELECT doc_id, source, w, count(*) AS tf FROM toks WHERE w IN ('spark','hash') GROUP BY 1,2,3), " +
        "scored AS (SELECT doc_id, source, sum(tf) AS score FROM tf GROUP BY 1,2 HAVING count(DISTINCT w) = 2), " +
        "kept AS (SELECT s.doc_id, s.source, s.score FROM scored s WHERE s.doc_id NOT IN (SELECT DISTINCT doc_id FROM toks WHERE w = 'merge')), " +
        "clustered AS (SELECT doc_id, score FROM (SELECT doc_id, score, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS sr FROM kept) WHERE sr <= 2), " +
        "topk AS (SELECT doc_id, CAST(score AS BIGINT) AS score FROM clustered ORDER BY score DESC, doc_id ASC LIMIT 20) " +
        "SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM topk"),
    "dedup_embedding_lsh" -> valuesOracle("textops_embedding_lsh.tsv",
      Seq(("vec_a", "BIGINT", false), ("vec_b", "BIGINT", false))),

    // real-frontier oracles, built from the committed crawl goldens
    "crawl_iteration" -> {
      val rows = goldenLines("crawl_order.tsv")
        .filter(_.split('\t')(0).toInt <= 3)
        .map { l =>
          val f = l.split('\t')
          s"(${f(0)}, ${f(1)}, ${f(2)}, '${f(3)}', ${f(4)}, ${f(5)})"
        }
      "SELECT CAST(iteration AS INTEGER) AS iteration, CAST(first_ip AS INTEGER) AS first_ip, " +
        "CAST(seq AS INTEGER) AS seq, url, CAST(priority AS INTEGER) AS priority, " +
        "CAST(err_code AS INTEGER) AS err_code FROM (VALUES " + rows.mkString(",") +
        ") AS t(iteration, first_ip, seq, url, priority, err_code)"
    },
    "j2_seen_frontier" -> {
      val rows = goldenLines("seen_set.tsv").map(u => s"($u)")
      s"SELECT DISTINCT CAST(uh48 AS BIGINT) AS uh48 FROM (VALUES ${rows.mkString(",")}) AS t(uh48)"
    },
    "a7_inlinks_frontier" -> {
      val rows = goldenLines("inlink_counts.tsv").map { l =>
        val f = l.split('\t'); s"(${f(0)}, ${f(1)}, ${f(2)})"
      }
      "SELECT CAST(first_ip AS INTEGER) AS first_ip, CAST(uh48 AS BIGINT) AS uh48, " +
        s"CAST(n_cblocks AS INTEGER) AS n_cblocks FROM (VALUES ${rows.mkString(",")}) AS t(first_ip, uh48, n_cblocks)"
    },
    "s7_titledb" -> valuesOracle("titledb.tsv",
      Seq(("uh48", "BIGINT", false), ("url", "VARCHAR", true),
        ("http_status", "INTEGER", false), ("content_hash32", "INTEGER", false))),
    "t1_tagdb_sites" -> valuesOracle("site_tags.tsv",
      Seq(("site", "VARCHAR", true), ("first_ip", "INTEGER", false),
        ("has_site_tag", "INTEGER", false), ("n_cblocks", "INTEGER", false))),
    "x18_pcd" -> valuesOracle("pcd.tsv",
      Seq(("uh48", "BIGINT", false), ("pcd_micros", "BIGINT", false))),
    "a6_quota_frontier" -> valuesOracle("quota_state.tsv",
      Seq(("key", "INTEGER", false), ("n", "BIGINT", false))),
    "q1_lineitem_agg" ->
      "SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) AS sum_qty, count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus",
    "a2_winner_topk" ->
      "SELECT o_custkey, o_orderkey, rank FROM (SELECT o_custkey, o_orderkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank FROM orders) WHERE rank <= 3",
    "a2_winner_dole" ->
      "SELECT o_custkey, o_orderkey, rank FROM (SELECT o_custkey, o_orderkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank FROM orders) WHERE rank <= 3",
    "j1_latest_reply" ->
      "SELECT user_id, event_id FROM (SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1",
    "j2_seen_antijoin" ->
      "SELECT c_custkey FROM customer c WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)",
    "j3_dedup_merge" ->
      "SELECT user_id, event_type, min(event_id) AS event_id FROM events GROUP BY user_id, event_type",
    "a6_quota_counts" ->
      "SELECT source, count(*) AS pages FROM documents GROUP BY source",
    "a7_cblock_count" ->
      "SELECT user_id, CAST(least(count(DISTINCT event_type), 20) AS BIGINT) AS cblocks FROM events GROUP BY user_id",
    "a8_overflow_guard" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id HAVING count(*) > 12",
    "x1_canonicalize" ->
      ("SELECT * FROM (VALUES " +
        "('WWW.Example.COM/a/../b//c.html#frag', 'http://www.example.com/b/c.html', 'example.com', 'com')," +
        "('http://http://www.foo.com/index.html', 'http://www.foo.com/index.html', 'foo.com', 'com')," +
        "('https://News.Ycombinator.com:443/item?id=1&&x=2', 'https://news.ycombinator.com/item?id=1&x=2', 'ycombinator.com', 'com')," +
        "('http://www.h0.test\\p\\q.jpg', 'http://www.h0.test/p/q.jpg', 'h0.test', 'test')," +
        "('http://sub.domain.co.uk/path/./x/', 'http://sub.domain.co.uk/path/x/', 'domain.co.uk', 'co.uk')," +
        "('http://1.2.3.4:8080/ip', 'http://1.2.3.4:8080/ip', '1.2.3', '')" +
        ") AS t(raw, url, domain, tld)"),
    "x2_uh48" ->
      ("SELECT url, CAST(uh48 AS BIGINT) AS uh48, CAST(host_hash32 AS INTEGER) AS host_hash32, CAST(fake_first_ip AS INTEGER) AS fake_first_ip FROM (VALUES " +
        "('http://www.example.com/b/c.html', 216172235310132, 59580137, -2058624204)," +
        "('http://www.foo.com/index.html', 268246257265569, -1151772446, -220183903)," +
        "('https://news.ycombinator.com/item?id=1&x=2', 66572417678789, -1037139414, 424583877)," +
        "('http://www.h0.test/p/q.jpg', 131495818073789, -2104378031, 1099347005)," +
        "('http://sub.domain.co.uk/path/x/', 167621463999788, 1873830651, 1775351276)," +
        "('http://1.2.3.4:8080/ip', 31623626785866, 636472066, -217405110)" +
        ") AS t(url, uh48, host_hash32, fake_first_ip)"),
    "x5_robots" ->
      ("SELECT path, allowed, CAST(delay_ms AS INTEGER) AS delay_ms FROM (VALUES " +
        "('/', true, 2500), ('/priv', false, 2500), ('/priv/x', false, 2500)," +
        "('/private', false, 2500), ('/pub', true, 2500)) AS t(path, allowed, delay_ms)"),
    "f1_ufn" ->
      ("SELECT url, CAST(hop AS INTEGER) AS hop, had_reply, is_media, is_addurl, CAST(ufn AS INTEGER) AS ufn, CAST(priority AS INTEGER) AS priority FROM (VALUES " +
        "('http://www.a.com/', 0, false, false, false, 9, 50)," +
        "('http://www.a.com/', 0, true, false, false, 10, 48)," +
        "('http://a.com/x', 1, false, false, false, 17, 40)," +
        "('http://a.com/x.jpg', 2, false, true, false, 1, 100)," +
        "('http://a.com/deep', 5, false, false, false, 21, 20)," +
        "('http://www.seed.com/', 0, false, false, true, 6, 85)" +
        ") AS t(url, hop, had_reply, is_media, is_addurl, ufn, priority)"),
    "a1_spidertime" ->
      "SELECT CAST(2005000 AS BIGINT) AS spider_time_ms",
    "a4_dole_caps" ->
      ("WITH f AS (SELECT o_orderkey AS uh48, CAST(o_custkey % 25 AS BIGINT) AS first_ip, " +
        "CAST(o_orderkey % 3 AS BIGINT) AS priority, " +
        "CAST(-round(o_totalprice * 100) AS BIGINT) AS t FROM orders), " +
        "c AS (SELECT *, CASE priority WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 1 END AS cap FROM f), " +
        "p1 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY priority, first_ip ORDER BY t ASC, uh48 ASC) AS rn FROM c) WHERE rn <= cap), " +
        "p2 AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY priority ORDER BY t ASC, uh48 ASC, first_ip ASC) AS rn2 FROM p1) WHERE rn2 <= cap) " +
        "SELECT uh48, first_ip, priority FROM p2 ORDER BY priority DESC, t ASC, uh48 ASC LIMIT 100"),
    "f7_corrupt" ->
      ("SELECT url, side FROM (VALUES " +
        "('http://ok.test/', 'request')," +
        "('1234567890', 'request')," +
        "('http://ok.test/', 'reply')" +
        ") AS t(url, side)"),
    "s2_inject" ->
      ("SELECT url, CAST(hop_count AS INTEGER) AS hop_count, injecting, addurl FROM (VALUES " +
        "('http://www.x9.test/page.html', 0, true, false)" +
        ") AS t(url, hop_count, injecting, addurl)"),
    "s4_warc" ->
      ("SELECT url, text FROM (VALUES " +
        "('http://w1.test/a', 'plain body')," +
        "('http://w2.test/b', 'gzip body')," +
        "('http://w3.test/c', 'deflate body')" +
        ") AS t(url, text)"),
    "a9_status" ->
      ("SELECT CAST(id AS INTEGER) AS id, CAST(status AS INTEGER) AS status, msg FROM (VALUES " +
        "(1, 7, 'Job is in progress.')," +
        "(2, 4, 'Round done.')," +
        "(3, 4, 'Round done.')," +
        "(4, 1, 'Job has reached maxRounds limit.')," +
        "(5, 2, 'Job has reached maxToCrawl limit.')," +
        "(6, 4, 'Round done.')" +
        ") AS t(id, status, msg)"),
    "f4_patterns" ->
      ("SELECT expr, url, matched FROM (VALUES " +
        "('^http://www.a.com/', 'http://www.a.com/forum/showthread.php?t=1', true)," +
        "('^https://', 'http://www.a.com/forum/showthread.php?t=1', false)," +
        "('$\\.php?t=1', 'http://www.a.com/forum/showthread.php?t=1', true)," +
        "('showthread', 'http://www.a.com/forum/showthread.php?t=1', true)," +
        "('!wiki', 'http://www.a.com/forum/showthread.php?t=1', true)," +
        "('wiki', 'http://www.a.com/forum/showthread.php?t=1', false)," +
        "('$t=1', 'http://www.a.com/forum/showthread.php?t=1', true)," +
        "('tld==de,fr', 'http://www.a.de/x', true)," +
        "('tld==com,org', 'http://www.a.de/x', false)," +
        "('tld!=com,org', 'http://www.a.de/x', true)," +
        "('lang==de', 'http://www.a.de/x', true)," +
        "('lang==en', 'http://www.a.de/x', false)" +
        ") AS t(expr, url, matched)"),
    "f6_sitelist" ->
      ("SELECT url, tag, matched FROM (VALUES " +
        "('http://example.com/x', '', true)," +
        "('http://www.example.com/x', '', true)," +
        "('http://sub.other.com/a', '', true)," +
        "('http://www.other.com/a', '', false)," +
        "('http://www.seedy.com/page', '', true)," +
        "('http://seedy.com/page', '', false)," +
        "('http://dir.site.com/docs/a.html', '', true)," +
        "('http://dir.site.com/other/a.html', '', false)," +
        "('http://random.net/goodword/x', '', true)," +
        "('http://example.com/badword', '', false)," +
        "('http://depth.com/x', 'shallow', true)," +
        "('http://depth.com/x', 'deep', false)," +
        "('http://example.com/x', 'shallow', false)" +
        ") AS t(url, tag, matched)"),
    "x16_classify" ->
      ("SELECT url, bad_ext, link_loop, spam FROM (VALUES " +
        "('http://a.test/setup.exe', true, false, false)," +
        "('http://a.test/video.wmv', true, false, false)," +
        "('http://a.test/crawl.warc.gz', false, false, false)," +
        "('http://a.test/x/x/x/page.html', false, true, false)," +
        "('http://a.test/a/b/a/b/page.html', false, true, false)," +
        "('http://a.test/a/b/a/c/page.html', false, false, false)," +
        "('http://www.pornsite.test/clean/path', false, false, true)," +
        "('http://hornyear.com/', false, false, true)," +
        "('http://www.middlesex.test/', false, false, false)," +
        "('http://analog-devices.test/', false, false, false)," +
        "('http://fuckedcompany.com/', false, false, false)," +
        "('http://sexstudies.someu.edu/', false, false, false)," +
        "('http://a-very-long-hyphenated-host-name.test/', false, false, true)," +
        "('http://www.example.com/', false, false, false)" +
        ") AS t(url, bad_ext, link_loop, spam)"),
    "x7_charset" ->
      ("SELECT CAST(id AS INTEGER) AS id, text FROM (VALUES " +
        "(1, '中文測試繁體字網頁 tail')," +
        "(2, '한국어 테스트 문서 내용')," +
        "(3, '中文 𝄞 四字节')," +
        "(4, 'café résumé \"quoted\" €uro')," +
        "(5, 'no meta tag here: naïve façade ½ cup')," +
        "(6, 'caf')" +
        ") AS t(id, text)"),
    "x17_mime" ->
      ("SELECT CAST(id AS INTEGER) AS id, parsed, CAST(status AS INTEGER) AS status, CAST(content_type AS INTEGER) AS content_type, charset, gzip, location FROM (VALUES " +
        "(1, true, 200, 1, 'UTF-8', false, '')," +
        "(2, true, 404, 1, '', false, '')," +
        "(3, false, -1, -1, '', false, '')," +
        "(4, true, 0, 1, '', false, '')," +
        "(5, true, 200, 1, 'euc-jp', false, '')," +
        "(6, true, 302, 1, '', false, 'http://a.test/')," +
        "(7, true, 302, 1, '', false, ' http://a.test/')," +
        "(8, true, 200, 1, '', true, '')," +
        "(9, true, 200, 1, '', false, '')," +
        "(10, true, 200, 4, '', false, '')," +
        "(11, false, -1, -1, '', false, '')" +
        ") AS t(id, parsed, status, content_type, charset, gzip, location)"),
    "x10_extract_text" ->
      ("SELECT * FROM (VALUES " +
        "('<p>fish &amp; chips</p>', 'fish & chips')," +
        "('<b>bold</b> and <a href=\"/x\">link</a>', 'bold and link')," +
        "('<select><option>hidden</option></select>visible', 'visible')" +
        ") AS t(html, text)"),
    "x11_links" ->
      ("SELECT * FROM (VALUES " +
        "('http://www.site.test/a.html', false, false)," +
        "('http://www.site.test/no.html', false, true)," +
        "('http://other.test/x', false, false)," +
        "('http://www.site.test/feed.xml', true, false)," +
        "('http://www.site.test/dir/b.html', false, false)" +
        ") AS t(url, is_rss, nofollow)"),
    "s1_seed_requests" ->
      ("SELECT url, CAST(uh48 AS BIGINT) AS uh48, CAST(first_ip AS INTEGER) AS first_ip, CAST(hop_count AS INTEGER) AS hop_count FROM (VALUES " +
        "('http://www.h0.test/', 102973433861522, 1592947730, 0)," +
        "('http://www.h1.test/', 230641450285198, 1706479950, 0)," +
        "('http://www.h5.test/', 80519018138911, 1266240223, 0)" +
        ") AS t(url, uh48, first_ip, hop_count)"),
    "dedup_exact" ->
      "SELECT doc_id, count(*) OVER (PARTITION BY text) AS dup_count FROM documents",
    "dedup_ngram_jaccard" ->
      ("WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 200), " +
        "sh AS (SELECT DISTINCT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS sh FROM words), " +
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), " +
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, inter, (sa.n + sb.n - inter) AS union_sz FROM inter " +
        "JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b " +
        "WHERE inter * 100 >= (sa.n + sb.n - inter) * 50"),
    "dedup_embedding_cosine" ->
      ("SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM " +
        "(SELECT * FROM embeddings WHERE vec_id < 300) a JOIN (SELECT * FROM embeddings WHERE vec_id < 300) b " +
        "ON a.vec_id < b.vec_id " +
        "WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.35"),
    "ann_cosine_topk" ->
      ("SELECT q_id, neighbor_id, rank FROM (" +
        "SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id ASC) AS rank " +
        "FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 20) q WHERE c.vec_id <> q.vec_id) WHERE rank <= 5"),
    "text_tokens" ->
      ("SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS re_tokens FROM documents"),
    "text_quality" -> {
      val sw = TextOps.stopwords.map(s => s"'$s'").mkString("(", ",", ")")
      "SELECT doc_id, n_chars, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens, " +
        s"CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x IN $sw)) AS BIGINT) AS stopword_count, " +
        "CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS distinct_tokens FROM documents"
    }
  )
}
