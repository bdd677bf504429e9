package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GbPermalink, GbUrl, GbXml}
import graft.frontier._

/** Reply-side analysis truth (getNewSpiderReply inputs): isRSS from the
  * parse, isPermalink, percentChangedPerDay against the previous reply,
  * and the ParentIsRSS propagation to outlinks. */
class ReplyTruthSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  test("Xml::isRSSFeed port: rss/atom/rdf detection") {
    def feedType(html: String): Int = {
      val b = html.getBytes("UTF-8")
      GbXml.isRSSFeed(GbXml.parse(b))
    }
    assert(feedType(Corpus.feedXml(5, Corpus.micro)) == 1)
    assert(feedType("""<feed xmlns="http://www.w3.org/2005/Atom"><entry/></feed>""") == 6)
    assert(feedType("<html><body>not a feed <b>rss</b> text</body></html>") == 0)
    // embedded rdf:RDF needs channel/item to count
    assert(feedType("""<rdf:RDF xmlns="x"></rdf:RDF>""") == 0)
    assert(feedType("""<rdf:RDF><channel><item/></channel></rdf:RDF>""") == 1)
  }

  test("isPermalink port: digits/hyphens/dates/vetoes (Linkdb.cpp:4552)") {
    def pl(u: String, rss: Boolean = false) = GbPermalink.isPermalink(GbUrl.parse(u), rss)
    assert(pl("http://blog.test/2013/05/my-nice-post.html"))
    assert(pl("http://a.test/p123456.html"))
    assert(pl("http://a.test/?p=123"))
    assert(!pl("http://a.test/")) // root
    assert(!pl("http://a.test/my-nice-post.html", rss = true)) // rss
    assert(!pl("http://a.test/short.html")) // no digits/hyphens
    assert(!pl("http://a.test/tag/some-long-tag/")) // /tag/ veto
    assert(!pl("http://a.test/forum/my-topic-123")) // forum veto
    assert(!pl("http://a.test/archive/2013/05/")) // ends /dddd/dd/
    assert(!pl("http://a.test/stuff-and-more/2008")) // ends /20xx
    assert(!pl("http://a.test/?m=200806")) // archive month cgi
  }

  test("RSS feed reply carries RepIsRSS; its outlinks carry ParentIsRSS") {
    val work = tmpdir("graft_rss")
    Crawl.run(spark, work, Corpus.micro, 7)
    import spark.implicits._
    val reps = Crawl.loadReplies(spark, work, 7)
    val feedUh = GbUrl.parse("http://www.h5.test/feed.xml").uh48
    val feedRep = reps.filter(_.uh48 == feedUh).collect()
    assert(feedRep.nonEmpty, "feed fetched")
    assert(Flags.has(feedRep.head.flags, Flags.RepIsRSS), "feed reply marked RSS")
    // a leaf discovered via the feed carries ParentIsRSS
    val leafUh = GbUrl.parse("http://www.h5.test/s2/leaf1.html").uh48
    val leafReq = Crawl.loadRequests(spark, work, 7).filter(_.uh48 == leafUh).collect()
    assert(leafReq.nonEmpty && Flags.has(leafReq.head.flags, Flags.ParentIsRSS),
      s"feed-discovered leaf should carry ParentIsRSS, flags=${leafReq.headOption.map(_.flags)}")
    // non-feed host replies are not RSS
    val rootRep = reps.filter(_.uh48 == GbUrl.parse("http://www.h0.test/").uh48).collect()
    assert(rootRep.nonEmpty && !Flags.has(rootRep.head.flags, Flags.RepIsRSS))
  }

  test("percentChangedPerDay set on refetch (reference formula, seconds quirk)") {
    import spark.implicits._
    val cfg = Crawl.Config()
    val task = FetchTask(1L, 9, "http://x.test/a", 40, 17, 0L, 1, 0)
    // percentChanged is the page-sample-vector SIMILARITY computed in
    // fetch (GbSampleVec; 100 = unchanged); repliesOf applies
    // (pc + .5) / numDays with numDays actually SECONDS
    // (XmlDoc.cpp:27194-27198)
    val res = spark.createDataset(Seq(Crawl.FetchResult(task, found = true, allowed = true,
      250, 200, Errs.OK, "en", contentHash32 = 777, downloadEndMs = 0L, Nil, "t",
      percentChanged = 40f)))
    val oldRep = FrontierReply(1L, 9, Crawl.nowSecs(cfg, 3) - 100, 0, 200, -1, 0L, "en", 555, 0f, 0L, 0)
    val out = Crawl.repliesOf(res, spark.createDataset(Seq(oldRep)), cfg, 3).collect().head
    assert(math.abs(out.percent_changed_per_day - 0.405f) < 1e-5, out.percent_changed_per_day.toString)
    // unchanged page (similarity 100) → (100 + .5) / 100
    val res2 = spark.createDataset(Seq(Crawl.FetchResult(task, found = true, allowed = true,
      250, 200, Errs.OK, "en", contentHash32 = 555, downloadEndMs = 0L, Nil, "t",
      percentChanged = 100f)))
    val out2 = Crawl.repliesOf(res2, spark.createDataset(Seq(oldRep)), cfg, 3).collect().head
    assert(math.abs(out2.percent_changed_per_day - 1.005f) < 1e-5)
    // the old-doc lookup is by uh48 ALONE (getOldXmlDoc is docid-based) —
    // a reindex re-fetch under a fake ip still finds its old doc
    val fakeIpTask = task.copy(first_ip = 12345)
    val res3 = spark.createDataset(Seq(Crawl.FetchResult(fakeIpTask, found = true, allowed = true,
      250, 200, Errs.OK, "en", contentHash32 = 777, downloadEndMs = 0L, Nil, "t",
      percentChanged = 40f)))
    val out3 = Crawl.repliesOf(res3, spark.createDataset(Seq(oldRep)), cfg, 3).collect().head
    assert(math.abs(out3.percent_changed_per_day - 0.405f) < 1e-5)
    // no prior reply → 0
    val out4 = Crawl.repliesOf(res, spark.emptyDataset[FrontierReply], cfg, 3).collect().head
    assert(out4.percent_changed_per_day == 0f)
  }
}
