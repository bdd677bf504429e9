package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.GbUrl
import graft.frontier._
import graft.rules._

/** F6 site list + F4 matchesucp/matchesupp + isparentindexed, and the
  * waiting tree under a site list. */
class SiteListSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  test("site-list line grammar and matching (PageBasic.cpp)") {
    val sl = new SiteList(Seq(
      "# a comment",
      "",
      "example.com",                      // domain match
      "sub.other.com",                    // host match
      "seed:http://www.seedy.com/",       // url-prefix pattern
      "site:dir.site.com/docs/",          // host + path prefix
      "contains:goodword",
      "-contains:badword",
      "tag:shallow depth.com"
    ))
    assert(!sl.isEmpty)
    def m(u: String) = sl.matchingPattern(GbUrl.parse(u))
    assert(m("http://example.com/x"))
    assert(m("http://www.example.com/x")) // domain pattern matches any host in dom
    assert(m("http://sub.other.com/a"))
    assert(!m("http://www.other.com/a")) // host pattern: other hosts don't match
    assert(m("http://www.seedy.com/page")) // url prefix
    assert(!m("http://seedy.com/page")) // prefix is exact (no www in url)
    assert(m("http://dir.site.com/docs/a.html"))
    assert(!m("http://dir.site.com/other/a.html")) // path prefix mismatch
    assert(m("http://random.net/goodword/x")) // positive contains
    assert(!m("http://example.com/badword")) // negative contains vetoes
    // tag matching
    assert(sl.matchingPattern(GbUrl.parse("http://depth.com/x"), "shallow"))
    assert(!sl.matchingPattern(GbUrl.parse("http://depth.com/x"), "deep"))
    assert(!sl.matchingPattern(GbUrl.parse("http://example.com/x"), "shallow"))
  }

  test("empty site list: insitelist matches everything (delete rule stays dead)") {
    val sl = new SiteList(Seq("# only comments", ""))
    assert(sl.isEmpty)
  }

  test("insitelist gates the crawl: off-list urls hit the forceDelete row") {
    // default web table row 2: "!ismanualadd && !insitelist" → delete.
    val ctx = RuleCtx(siteListEmpty = false,
      siteListMatch = u => u.contains("inlist.com"))
    val inReq = UfnRequest(url = "http://inlist.com/x", hopCount = 1, isNewOutlink = true)
    val outReq = UfnRequest(url = "http://other.com/x", hopCount = 1, isNewOutlink = true)
    val now = 1400003600L
    val nIn = UrlFilters.urlFilterNumCtx(inReq, None, now, UrlFilters.defaultWebRules, ctx)
    val nOut = UrlFilters.urlFilterNumCtx(outReq, None, now, UrlFilters.defaultWebRules, ctx)
    assert(!UrlFilters.defaultWebRules(nIn).forceDelete, s"in-list got rule $nIn")
    assert(UrlFilters.defaultWebRules(nOut).forceDelete && UrlFilters.defaultWebRules(nOut).expr.contains("insitelist"),
      s"off-list url must hit the delete row, got $nOut")
    // manual adds survive even off-list
    val manual = outReq.copy(isAddUrl = true)
    val nMan = UrlFilters.urlFilterNumCtx(manual, None, now, UrlFilters.defaultWebRules, ctx)
    assert(!UrlFilters.defaultWebRules(nMan).forceDelete)
  }

  test("matchesucp/matchesupp (Spider.cpp:11714-11777)") {
    val rules = Vector(
      UrlFilterRule("matchesucp && hopcount>=0", harvestLinks = true, 1, 9, 7, 1000, 60),
      UrlFilterRule("default", harvestLinks = true, 10, 9, 7, 1000, 1))
    val now = 1400003600L
    // substring list
    val ctx1 = RuleCtx(patterns = CrawlPatterns(ucp = Seq("/blog/", "/news/")))
    def ufn(u: String, ctx: RuleCtx, isAdd: Boolean = false) =
      UrlFilters.urlFilterNumCtx(UfnRequest(url = u, hopCount = 1, isAddUrl = isAdd), None, now, rules, ctx)
    assert(ufn("http://a.com/blog/x", ctx1) == 0)
    assert(ufn("http://a.com/other/x", ctx1) == 1) // no match → falls through
    assert(ufn("http://a.com/other/x", ctx1, isAdd = true) == 0) // manual add passes
    // regex wins over substrings
    val ctx2 = RuleCtx(patterns = CrawlPatterns(
      ucp = Seq("/never/"), ucr = Some(java.util.regex.Pattern.compile("/item\\d+"))))
    assert(ufn("http://a.com/item123", ctx2) == 0)
    assert(ufn("http://a.com/blog/x", ctx2) == 1)
    // unconfigured → token always passes
    assert(ufn("http://a.com/whatever", RuleCtx()) == 0)
    // upp has NO manual-add override
    val rulesUpp = Vector(
      UrlFilterRule("matchesupp", harvestLinks = true, 1, 9, 7, 1000, 60),
      UrlFilterRule("default", harvestLinks = true, 10, 9, 7, 1000, 1))
    val ctx3 = RuleCtx(patterns = CrawlPatterns(upp = Seq("/proc/")))
    val nAdd = UrlFilters.urlFilterNumCtx(UfnRequest(url = "http://a.com/x", hopCount = 1, isAddUrl = true),
      None, now, rulesUpp, ctx3)
    assert(nAdd == 1, "manual add must NOT override matchesupp")
  }

  test("insitelist's native column agrees with the site-list engine") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val urls = for (h <- Seq("h1.test", "www.h1.test", "h2.org", "sub.h3.de", "H4.com");
                    p <- Seq("/", "/p/x.html", "/m?q=1", "/qz")) yield GbUrl.parse(s"http://$h$p").url
    val lists = Seq(Seq("h1.test"), Seq("www.h1.test/p"), Seq("http://h2.org/m"),
      Seq("-contains:q", "h1.test", "contains:.org"), Seq("contains:/p/", "sub.h3.de"),
      Seq("h3.de/m", "tag:x h4.com"), Seq("-contains:www", "site:h1.test/p/"))
    for (lines <- lists) {
      val sl = new SiteList(lines)
      val got = urls.toDF("url").select(col("url"), sl.matchColumn(col("url"))).as[(String, Boolean)].collect().toMap
      for (u <- urls) assert(got(u) == sl.matchingPattern(GbUrl.parse(u)), s"$lines on $u")
      assert(got.values.toSet == Set(true, false), s"$lines must match some urls and miss others: $got")
    }
  }

  test("site-list schedule: compiled == interpreted") {
    import spark.implicits._
    val cfg = Crawl.Config(siteList = Seq("h0.test", "h1.test"))
    val reqs = spark.createDataset((0 until 6).map { k =>
      val u = GbUrl.parse(s"http://www.h$k.test/p.html")
      FrontierRequest(u.uh48, k + 1, u.url, u.hostHash32, u.domHash32, u.hostHash32,
        -1, 1400000000L, 1400000000L, 1, "", Flags.IsNewOutlink, 0, 0L)
    })
    val batch = Crawl.schedule(reqs, spark.emptyDataset[FrontierReply],
      spark.emptyDataset[IpState], spark.emptyDataset[DomState], cfg, 1).collect()
    // only h0/h1 survive (others hit the !insitelist delete row)
    assert(batch.map(_.url).toSet ==
      Set("http://www.h0.test/p.html", "http://www.h1.test/p.html"), batch.mkString(", "))
  }

  test("a site-list crawl keeps the waiting tree; each dole equals the interpreter's on its state") {
    import spark.implicits._
    val spec = Corpus.micro
    // hosts 0 and 1 listed; the other seeds and their outlinks hit the
    // `!ismanualadd && !insitelist` delete row once answered
    val cfg = Crawl.Config(siteList = Seq(Corpus.host(0), s"contains:${Corpus.host(1)}"))
    assert(Crawl.wakeSafeRules(cfg))
    val d = tmpdir("graftsitelist")
    val iterations = 5
    val results = Crawl.run(spark, d, spec, iterations, cfg, compactEvery = 100)
    assert(results.map(_.scheduled).sum > results.head.scheduled, s"the crawl must go on: $results")
    for (i <- 1 to iterations) {
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(Crawl.snapDir(d, i), "MANIFEST.json")))
      assert(manifest.contains(s"\"rules\":\"${Crawl.rulesFingerprint(cfg)}\""),
        s"snapshot $i rolled no waiting tree forward: $manifest")
      val st = Crawl.loadLoopState(spark, d, i - 1, cfg)
      val interp = Crawl.scheduleInterpreted(st.requests, st.replies, st.ipState, st.domState, cfg, i,
        st.inlinks, st.quotaState).collect().map(t => (t.first_ip, t.seq_in_ip, t.url, t.priority)).sorted.toSeq
      val doled = spark.read.parquet(s"${Crawl.snapDir(d, i)}/fetch_log")
        .select("first_ip", "seq", "url", "priority").as[(Int, Int, String, Int)].collect().sorted.toSeq
      assert(doled == interp, s"iteration $i: doled ${doled.diff(interp)} vs interpreted ${interp.diff(doled)}")
      // off the list, only the seeds (manual adds) are fetched
      assert(doled.forall(t => t._3.contains(Corpus.host(0)) || t._3.contains(Corpus.host(1)) ||
        Corpus.seeds(spec).contains(t._3)), s"iteration $i doled an off-list outlink: $doled")
    }
  }

  test("wakeSafeRules: the clock and quota comparisons, not their substrings") {
    def safe(exprs: String*) = Crawl.wakeSafeRules(Crawl.Config(rules =
      exprs.map(e => UrlFilterRule(e, harvestLinks = true, 1, 9, 7, 1000, 50)).toIndexedSeq))
    assert(safe("default"))
    for (t <- Seq("age>86400", "!age<=3", "urlage>5", "spiderwaited>=60", "sitepages>5", "domainpages<3",
        "siteadds==0", "domainadds!=2", "hopcount==0 && age>86400"))
      assert(!safe(t, "default"), s"$t moves with the clock or other IPs' fetches")
    // tokens that merely contain those names are row-local
    for (t <- Seq("$page", "$\\.page", "^http://age.test/", "pagesite", "isnew && $domainpages.html", "lang==en", "tld==de"))
      assert(safe(t, "default"), s"$t is row-local")
  }
}
