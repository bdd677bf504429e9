package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.GbUrl
import graft.frontier._

/** Round-3 crawl-order fidelity:
  *  - RSS pages harvest ONLY <link> urls, never <a href> anchors
  *    (XmlDoc.cpp:27623-27626)
  *  - an RSS doc's hop count is forced to 1 when > 1, so its items are
  *    harvested at hop 2 (XmlDoc.cpp:21565-21572, outlink hc :27754)
  *  - the add-url EFAKEFIRSTIP lifecycle: fake-ip add-url requests are
  *    answered without a download and re-added under the real ip
  *    (XmlDoc.cpp:2812-2828, 2617-2691, 2330-2367)
  *  - compaction drops answered one-hit requests (reindex/fake,
  *    Spider.cpp:13721-13729) and keys the coexistence signature on
  *    hasContent/forceDelete too (Spider.cpp:13779-13789) */
class RssEfakeSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private val cfg = Crawl.Config()

  private def tmpdir(): String = tmpdir("graft_rssefake")

  private def fetchOne(url: String, html: String, hop: Int): Crawl.FetchResult = {
    import spark.implicits._
    val ufn = UrlFiltersHook.harvestingUfn
    val task = FetchTask(GbUrl.parse(url).uh48, 42, url, 40, ufn, 0L, hop, 0,
      was_indexed = false, req_flags = 0L)
    val pages = spark.createDataset(Seq(PageRow(url, Corpus.warcTs(url), html.getBytes("UTF-8"), "", "en")))
    Crawl.fetch(spark.createDataset(Seq(task)), pages,
      spark.emptyDataset[RobotsRow], cfg, 3).collect().head
  }

  test("RSS page: <a href> anchors are NOT harvested, <link> urls are") {
    val feed =
      """<?xml version="1.0"?><rss version="2.0"><channel>
        |<item><title>x</title><link>http://linked.test/a.html</link>
        |<description>see <a href="http://anchored.test/b.html">b</a></description></item>
        |</channel></rss>""".stripMargin
    val r = fetchOne("http://feedhost.test/feed.xml", feed, hop = 1)
    assert(r.isRSS, "parse must classify the doc as RSS")
    val outs = r.outlinks.map(_.url)
    assert(outs.contains("http://linked.test/a.html"), outs.mkString(","))
    assert(!outs.exists(_.contains("anchored.test")),
      s"<a href> must be skipped on RSS parents (XmlDoc.cpp:27626): $outs")
    // the same anchor on a NON-rss page IS harvested
    val htmlPage = """<html><body>see <a href="http://anchored.test/b.html">b</a></body></html>"""
    val r2 = fetchOne("http://plain.test/p.html", htmlPage, hop = 1)
    assert(r2.outlinks.exists(_.url == "http://anchored.test/b.html"))
  }

  test("RSS hop force: items of a hop-3 feed are harvested at hop 2, not 4") {
    val feed =
      """<?xml version="1.0"?><rss version="2.0"><channel>
        |<item><title>x</title><link>http://linked.test/deep/a.html</link></item>
        |</channel></rss>""".stripMargin
    val r = fetchOne("http://feedhost.test/feed.xml", feed, hop = 3)
    assert(r.isRSS)
    val o = r.outlinks.find(_.url == "http://linked.test/deep/a.html").get
    assert(o.hop_count == 2, s"doc hop forced to 1 -> item hop 2, got ${o.hop_count}")
    // hop 1 feeds are NOT forced (hc > 1 only)
    val r2 = fetchOne("http://feedhost.test/feed.xml", feed, hop = 1)
    assert(r2.outlinks.head.hop_count == 2) // 1 + 1, unchanged by the clamp
    // non-RSS parents keep request hop + 1
    val htmlPage = """<html><body><a href="http://linked.test/deep/a.html">a</a></body></html>"""
    val r3 = fetchOne("http://plain.test/p.html", htmlPage, hop = 3)
    assert(r3.outlinks.head.hop_count == 4)
  }

  test("corpus pin: feed2 item reachable only via the feed sits at hop 2") {
    import spark.implicits._
    val work = tmpdir()
    Crawl.run(spark, work, Corpus.micro, 8)
    // host 5 disallows /s1 by robots, so /s1/leaf1.html is discoverable
    // ONLY through feed2 (itself at hop 2, doc hop forced to 1)
    val uh = GbUrl.parse("http://www.h5.test/s1/leaf1.html").uh48
    val req = Crawl.loadRequests(spark, work, 8).filter(_.uh48 == uh).collect()
    assert(req.nonEmpty, "feed2 item must be discovered")
    assert(req.head.hop_count == 2, s"forced hop: expected 2, got ${req.head.hop_count}")
    assert(Flags.has(req.head.flags, Flags.ParentIsRSS))
    // the feed-description anchors never enter the frontier via feeds:
    // h6/s2 is feed2(h5)'s anchor target and unreachable by nav this early
    val anchorUh = GbUrl.parse("http://www.h6.test/s2/").uh48
    val anchorReq = Crawl.loadRequests(spark, work, 8).filter(_.uh48 == anchorUh).collect()
    assert(anchorReq.forall(r => !Flags.has(r.flags, Flags.ParentIsRSS)),
      "anchor target must not have been harvested from an RSS parent")
  }

  test("EFAKEFIRSTIP lifecycle: DNS hop, revised re-add, compaction drop") {
    import spark.implicits._
    val work = tmpdir()
    Crawl.run(spark, work, Corpus.micro, 2, cfg, compactEvery = 99)
    val seedUrl = "http://www.h0.test/"
    val u = GbUrl.parse(seedUrl)
    // iteration 1: the fake request is answered with EFAKEFIRSTIP, no download
    val log1 = spark.read.parquet(s"${Crawl.snapDir(work, 1)}/fetch_log")
      .filter(col("url") === seedUrl).collect()
    assert(log1.length == 1 && log1.head.getAs[Int]("err_code") == Errs.EFAKEFIRSTIP)
    val reps = Crawl.loadReplies(spark, work, 2).filter(_.uh48 == u.uh48).collect()
    assert(reps.exists(r => r.err_code == Errs.EFAKEFIRSTIP && r.first_ip == u.fakeFirstIp),
      "EFAKEFIRSTIP reply under the FAKE ip (XmlDoc.cpp:26846-26859)")
    // pre-compaction: both the fake and the revised request coexist
    val reqs2 = Crawl.loadRequests(spark, work, 2).filter(_.uh48 == u.uh48).collect()
    assert(reqs2.length == 2)
    val fake = reqs2.find(r => Flags.has(r.flags, Flags.FakeFirstIp)).get
    val revised = reqs2.find(r => !Flags.has(r.flags, Flags.FakeFirstIp)).get
    assert(fake.first_ip == u.fakeFirstIp)
    assert(revised.first_ip == Corpus.firstIp(0, Corpus.micro.nHosts), "real ip from host_meta")
    // revised is an exact copy but for first_ip and the flag
    assert(revised.copy(first_ip = fake.first_ip, flags = revised.flags | Flags.FakeFirstIp) == fake)
    // iteration 2 fetches the seed for real, under the real ip
    val log2 = spark.read.parquet(s"${Crawl.snapDir(work, 2)}/fetch_log")
      .filter(col("url") === seedUrl).collect()
    assert(log2.length == 1 && log2.head.getAs[Int]("err_code") == 0 &&
      log2.head.getAs[Int]("first_ip") == revised.first_ip)
    // compaction drops the answered fake request, keeps the revised one
    Crawl.compact(spark, work, 2, cfg)
    val reqsC = Crawl.loadRequests(spark, work, 2).filter(_.uh48 == u.uh48).collect()
    assert(reqsC.length == 1 && !Flags.has(reqsC.head.flags, Flags.FakeFirstIp),
      "answered fake request dropped (Spider.cpp:13726-13729)")
  }

  test("compaction drops an answered reindex request (one-hit wonder)") {
    import spark.implicits._
    val work = tmpdir()
    Crawl.run(spark, work, Corpus.micro, 4, cfg) // compaction at 4
    val url = "http://www.h0.test/s1/"
    Crawl.reindex(spark, work, Seq(url), cfg)
    Crawl.run(spark, work, Corpus.micro, 1, cfg) // serves the reindex (iter 5)
    val i = Crawl.latestSnapshot(work).get
    val uh = GbUrl.parse(url).uh48
    val pre = Crawl.loadRequests(spark, work, i)
      .filter(r => r.uh48 == uh && Flags.has(r.flags, Flags.IsPageReindex)).collect()
    assert(pre.nonEmpty, "reindex request present before compaction")
    Crawl.compact(spark, work, i, cfg)
    val post = Crawl.loadRequests(spark, work, i)
      .filter(r => r.uh48 == uh && Flags.has(r.flags, Flags.IsPageReindex)).collect()
    assert(post.isEmpty, "answered reindex request dropped (Spider.cpp:13721-13723)")
    // the url's ordinary request survives
    assert(Crawl.loadRequests(spark, work, i).filter(_.uh48 == uh).count() == 1)
  }

  test("compaction signature keys on hasContent and forceDelete") {
    import spark.implicits._
    val work = tmpdir()
    Crawl.init(spark, work, Nil, cfg)
    def req(flags: Long, added: Long) = FrontierRequest(
      uh48 = 7L, first_ip = 9, url = "http://sig.test/x", host_hash32 = 1,
      dom_hash32 = 1, site_hash32 = 1, site_num_inlinks = -1, added_time = added,
      discovery_time = added, hop_count = 1, parent_lang = "", flags = flags,
      err_count = 0, parent_doc_id = 0L)
    spark.createDataset(Seq(
      req(Flags.IsNewOutlink, 100L),
      req(Flags.IsNewOutlink | Flags.HasContent, 200L), // coexists: hasContent differs
      req(Flags.IsNewOutlink | Flags.ForceDelete, 300L), // coexists: forceDelete differs
      req(Flags.IsNewOutlink | Flags.SameDom, 400L) // NOT in the signature -> merges, oldest kept
    )).write.mode("overwrite").parquet(s"${Crawl.snapDir(work, 0)}/requests")
    Crawl.compact(spark, work, 0, cfg)
    val out = Crawl.loadRequests(spark, work, 0).collect().sortBy(_.added_time)
    assert(out.length == 3, out.mkString("\n"))
    assert(out.map(_.added_time).toSeq == Seq(100L, 200L, 300L),
      "same-signature rows merge to the OLDEST addedTime; flag-signature rows coexist")
  }
}

/** Exposes a harvesting ufn for fetch-level tests. */
private object UrlFiltersHook {
  val harvestingUfn: Int =
    graft.rules.UrlFilters.defaultWebRules.indexWhere(_.harvestLinks)
}
