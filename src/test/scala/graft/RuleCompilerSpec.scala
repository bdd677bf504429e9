package graft

import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.frontier._
import graft.rules._

/** Cross-validation: the Catalyst-compiled rule table must agree with the
  * reference-exact interpreter on randomized frontiers — same fetch batch,
  * same order keys. */
class RuleCompilerSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def randomFrontier(n: Int, seed: Long): (Seq[FrontierRequest], Seq[FrontierReply]) = {
    val rnd = new scala.util.Random(seed)
    val reqs = (0 until n).map { i =>
      val hostIdx = rnd.nextInt(n / 4 + 1)
      val www = rnd.nextBoolean()
      val host = (if (www) "www." else "") + s"h$hostIdx.test"
      val pathKind = rnd.nextInt(4)
      val url = pathKind match {
        case 0 => s"http://$host/"
        case 1 => s"http://$host/p$i.html"
        case 2 => s"http://$host/m$i.jpg"
        case _ => s"https://$host/q$i?x=$i"
      }
      var flags = 0L
      if (rnd.nextInt(10) == 0) flags |= Flags.IsAddUrl
      if (rnd.nextInt(20) == 0) flags |= Flags.IsInjecting
      if (rnd.nextInt(20) == 0) flags |= Flags.IsPageReindex
      if (rnd.nextInt(3) == 0) flags |= Flags.IsNewOutlink
      if (pathKind == 2) flags |= Flags.HasMediaExtension
      if (rnd.nextInt(8) == 0) flags |= Flags.ParentIsRSS
      if (rnd.nextInt(8) == 0) flags |= Flags.ParentIsSiteMap
      val u = graft.core.GbUrl.parse(url)
      FrontierRequest(
        uh48 = u.uh48, first_ip = 1 + rnd.nextInt(50), url = u.url,
        host_hash32 = u.hostHash32, dom_hash32 = u.domHash32, site_hash32 = u.hostHash32,
        site_num_inlinks = rnd.nextInt(12) - 1,
        added_time = 1400000000L - rnd.nextInt(100000),
        discovery_time = 1400000000L - rnd.nextInt(200000),
        hop_count = rnd.nextInt(6), parent_lang = "en",
        flags = flags, err_count = rnd.nextInt(3), parent_doc_id = 0L)
    }
    val reps = reqs.filter(_ => rnd.nextInt(3) == 0).map { r =>
      FrontierReply(
        uh48 = r.uh48, first_ip = r.first_ip,
        spidered_time = 1400000000L - rnd.nextInt(400000),
        err_code = Seq(0, 0, 0, 404, UrlFilters.EDNSTIMEDOUT)(rnd.nextInt(5)),
        http_status = 200, crawl_delay_ms = rnd.nextInt(3) * 250 - 1,
        download_end_time = 1400000000000L - rnd.nextInt(1000000),
        lang = "en", content_hash32 = rnd.nextInt(),
        percent_changed_per_day = 0f, flags = 0L, err_count = rnd.nextInt(4))
    }
    (reqs, reps)
  }

  /** Rows of a frontier that the reference-exact interpreter keeps out of
    * the dole: (force-deleted, not yet due). Counted over the requests
    * whose (first_ip, uh48) key is unique, which scheduling never merges. */
  private def excluded(reqs: Seq[FrontierRequest], reps: Seq[FrontierReply], ips: Seq[IpState],
                       doms: Seq[DomState], cfg: Crawl.Config): (Int, Int) = {
    val now = Crawl.nowSecs(cfg, 1)
    val latest = reps.groupBy(r => (r.first_ip, r.uh48)).map { case (k, rs) =>
      k -> rs.maxBy(r => (r.spidered_time, r.download_end_time)) }
    val lastMs = ips.map(s => s.first_ip -> s.last_download_end_ms).toMap
    val crawlDelay = doms.map(d => d.dom_hash32 -> d.crawl_delay_ms).toMap
    val outcomes = reqs.groupBy(r => (r.first_ip, r.uh48)).values.filter(_.size == 1).map(_.head).toSeq.map { r =>
      val rep = latest.get((r.first_ip, r.uh48)).map(Crawl.toUfnReply)
      val req = Crawl.toUfn(if (rep.isDefined) r.copy(flags = r.flags | Flags.HadReply) else r)
      val ufn = UrlFilters.urlFilterNum(req, rep, now, cfg.rules)
      if (ufn < 0 || cfg.rules(ufn).forceDelete) (1, 0)
      else if (UrlFilters.spiderTimeMs(req, ufn, rep, cfg.rules, lastMs.getOrElse(r.first_ip, -1L),
          crawlDelay.getOrElse(r.dom_hash32, -1)) > Crawl.nowMs(cfg, 1)) (0, 1)
      else (0, 0)
    }
    (outcomes.map(_._1).sum, outcomes.map(_._2).sum)
  }

  /** `schedule` and the winners of `scheduleWake` (no due set) against
    * `scheduleInterpreted`, on `session`'s execution mode. */
  private def crossCheck(session: SparkSession, seeds: Seq[Long]): Unit = {
    import session.implicits._
    def key(ts: Array[FetchTask]) = ts
      .map(t => (t.uh48, t.first_ip, t.priority, t.ufn, t.spider_time_ms, t.seq_in_ip))
      .sortBy(x => (x._1, x._2)).toSeq
    for (seed <- seeds) {
      val (reqs, reps) = randomFrontier(800, seed)
      val ipRows = reqs.map(_.first_ip).distinct.filter(_ % 3 == 0).map(ip => IpState(ip, 1400000000000L - 500))
      val domRows = reqs.map(_.dom_hash32).distinct.filter(_ % 2 == 0).map(d => DomState(d, 500))
      val cfg = Crawl.Config()
      val (deleted, notDue) = excluded(reqs, reps, ipRows, domRows, cfg)
      assert(deleted > 0 && notDue > 0,
        s"seed=$seed: $deleted force-deleted and $notDue not-yet-due rows; the eligibility check is vacuous")
      val reqDs = session.createDataset(reqs)
      val repDs = session.createDataset(reps)
      val ips = session.createDataset(ipRows)
      val doms = session.createDataset(domRows)
      val interp = key(Crawl.scheduleInterpreted(reqDs, repDs, ips, doms, cfg, 1).collect())
      assert(interp.nonEmpty)
      val compiled = key(Crawl.schedule(reqDs, repDs, ips, doms, cfg, 1).collect())
      assert(compiled.length == interp.length, s"seed=$seed sizes ${compiled.length} vs ${interp.length}")
      compiled.zip(interp).foreach { case (x, y) => assert(x == y, s"seed=$seed $x vs $y") }
      val so = Crawl.scheduleWake(reqDs, repDs, ips, doms, cfg, 1,
        session.emptyDataset[InlinkState], null, ipNext = None)
      assert(so.wake)
      val wake = key(so.dole.filter(col("seq_in_ip") >= 0).as[FetchTask].collect())
      assert(wake == interp, s"seed=$seed: scheduleWake winners differ from the interpreter")
    }
  }

  test("compiled schedule == interpreted schedule on random frontiers") {
    crossCheck(spark, Seq(1L, 7L, 42L))
  }

  test("compiled schedule == interpreted schedule on the quiet session (interpreted expressions)") {
    val quiet = GraftShim.quietSession(spark, 800)
    assert(GraftShim.isQuiet(quiet))
    crossCheck(quiet, Seq(5L, 42L))
  }

  test("negated reply-gated tokens match the interpreter (rep_exists outside '!')") {
    import spark.implicits._
    // !hastmperror with NO reply: interpreter RowSkips (row fails); the
    // old compiled form !(rep_exists && in(tmpErrors)) wrongly matched
    val rules = Vector(
      UrlFilterRule("!hastmperror && hopcount>=1", harvestLinks = true, 1, 9, 7, 1000, 60),
      UrlFilterRule("hastmperror", harvestLinks = true, 1, 9, 7, 1000, 55),
      UrlFilterRule("default", harvestLinks = true, 10, 9, 7, 1000, 1))
    val cfg = Crawl.Config(rules = rules)
    for (seed <- Seq(3L, 11L)) {
      val (reqs, reps) = randomFrontier(400, seed)
      val reqDs = spark.createDataset(reqs)
      val repDs = spark.createDataset(reps)
      val ips = spark.emptyDataset[IpState]
      val doms = spark.emptyDataset[DomState]
      val a = Crawl.schedule(reqDs, repDs, ips, doms, cfg, 1).collect()
        .map(t => (t.uh48, t.first_ip, t.priority, t.ufn)).sortBy(x => (x._1, x._2))
      val b = Crawl.scheduleInterpreted(reqDs, repDs, ips, doms, cfg, 1).collect()
        .map(t => (t.uh48, t.first_ip, t.priority, t.ufn)).sortBy(x => (x._1, x._2))
      assert(a.toSeq == b.toSeq, s"seed=$seed")
      assert(a.nonEmpty)
      // both paths must schedule some no-reply rows on the default rule
      // (priority 1), proving !hastmperror did NOT match them
      assert(a.exists(_._3 == 1), "expected no-reply rows on the default rule")
    }
  }

  test("compiler supports the full default web table") {
    import org.apache.spark.sql.functions._
    val c = RuleCompiler.Cols(col("url"), col("hop_count"), col("flags"),
      col("added_time"), col("discovery_time"), col("site_num_inlinks"), lit(0),
      col("rep_exists"), col("rep_spidered_time"), col("rep_err_code"),
      col("rep_err_count"), col("rep_http_status"), 1400000000L,
      col("req"), col("rep"), col("quota"))
    // every token has a native form: no bridge UDF in the chain, with
    // or without a site list
    val noList = new SiteList(Nil)
    val ufn = RuleCompiler.compile(UrlFilters.defaultWebRules, c, RuleCtx(), noList).toString
    assert(!ufn.contains("UDF"), ufn)
    val listed = new SiteList(Seq("contains:.test", "h1.test/p", "-contains:q"))
    val native = RuleCompiler.compile(UrlFilters.defaultWebRules, c, RuleCtx(siteListEmpty = false), listed).toString
    assert(!native.contains("UDF"), s"a site list's insitelist is native: $native")
    val tagged = UrlFilters.defaultWebRules :+ UrlFilterRule("tag:deep", harvestLinks = true, 1, 1, 1, 1000, 5)
    val bridged = RuleCompiler.compile(tagged, c, RuleCtx(siteListEmpty = false), listed).toString
    assert(bridged.contains("UDF"), s"tag: takes the bridge: $bridged")
  }

  // ------------------------------------------------ generated rule tables

  /** Every token `UrlFilters.evalToken` dispatches on, each drawn with a
    * value where it compares. */
  private val booleanTokens = Seq("isreindex", "ismanualadd", "insitelist", "tag:deep", "tag:shallow",
    "matchesucp", "matchesupp", "isparentindexed", "isaddurl", "isinjected", "ismedia", "isnewoutlink",
    "isnewrequest", "isnew", "iswww", "isrssext", "isrss", "ispermalinkformat", "ispermalink",
    "isparentrss", "isparentsitemap", "isparentpingserver", "ispingserver", "isroot", "isindexed",
    "isonsamesubdomain", "isonsamedomain", "isfakeip", "isdocidbased", "hastmperror", "hasreply", "default")
  private val cmpTokens = Seq(
    "hopcount" -> Seq("0", "1", "3"), "lastspidertime" -> Seq("1399800000", "1399900000"),
    "urlage" -> Seq("50000", "120000"), "errorcount" -> Seq("0", "1", "2"),
    "errorcode" -> Seq("0", "404", UrlFilters.EDNSTIMEDOUT.toString), "numinlinks" -> Seq("0", "2", "7"),
    "sitepages" -> Seq("0", "3", "10"), "domainpages" -> Seq("0", "4"), "siteadds" -> Seq("0", "2"),
    "domainadds" -> Seq("1", "5"), "sitenuminlinks" -> Seq("-1", "3", "8"),
    "spiderwaited" -> Seq("100000", "300000"), "percentchangedperday" -> Seq("0", "20.5"),
    "httpstatus" -> Seq("200", "404"), "age" -> Seq("100000", "250000"),
    "tld" -> Seq("com", "de,org", "test"), "lang" -> Seq("en", "en,de", "fr"),
    "parentlang" -> Seq("en", "de,xx"))
  private val patternTokens = Seq("^http://www.", "$.html", "$\\.jpg", "p1", "q")
  private val allTokens: Seq[scala.util.Random => String] =
    booleanTokens.map(t => (_: scala.util.Random) => t) ++
      cmpTokens.map { case (name, values) => (rnd: scala.util.Random) =>
        val op = Seq("==", "!=", "<", "<=", ">", ">=")(rnd.nextInt(6))
        s"$name$op${values(rnd.nextInt(values.size))}"
      } ++ patternTokens.map(t => (_: scala.util.Random) => t)

  private val siteLines = Seq("h3.test", "www.h5.org", "contains:p1", "-contains:q", "http://www.h2.test/",
    "tag:deep h7.de", "tag:shallow h1.com", "site:h9.test/p", "seed:http://h4.org/", "h6.com/m")

  /** A frontier whose rows vary every field a token reads: tlds, parent
    * and reply languages, reply flags and change rates, fake-IP and
    * reindex requests (some answered), inlinks and quota counts. One
    * request per (first_ip, uh48), as the crawl keeps them. */
  private def richFrontier(session: SparkSession, n: Int, seed: Long) = {
    import session.implicits._
    val rnd = new scala.util.Random(seed)
    val tlds = Seq("test", "com", "org", "de")
    val reqs = (0 until n).map { i =>
      val host = (if (rnd.nextBoolean()) "www." else "") + s"h${rnd.nextInt(10)}.${tlds(rnd.nextInt(4))}"
      val url = rnd.nextInt(5) match {
        case 0 => s"http://$host/"
        case 1 => s"http://$host/p$i.html"
        case 2 => s"http://$host/m$i.jpg"
        case 3 => s"https://$host/q$i?x=$i"
        case _ => s"http://$host/p/feed$i.xml"
      }
      val u = graft.core.GbUrl.parse(url)
      val bits = Seq(Flags.IsAddUrl, Flags.IsInjecting, Flags.IsPageReindex, Flags.IsNewOutlink,
        Flags.IsRSSExt, Flags.IsUrlPermalinkFormat, Flags.ParentIsRSS, Flags.ParentIsSiteMap,
        Flags.ParentIsPingServer, Flags.IsPingServer, Flags.FakeFirstIp, Flags.WasParentIndexed)
      val flags = bits.filter(_ => rnd.nextInt(6) == 0).foldLeft(
        if (u.hasMediaExtension) Flags.HasMediaExtension else 0L)(_ | _)
      FrontierRequest(u.uh48, 1 + rnd.nextInt(30), u.url, u.hostHash32, u.domHash32, u.hostHash32,
        rnd.nextInt(12) - 1, 1400000000L - rnd.nextInt(100000), 1400000000L - rnd.nextInt(200000),
        rnd.nextInt(5), Seq("en", "de", "xx", "")(rnd.nextInt(4)), flags, rnd.nextInt(3), 0L)
    }.groupBy(r => (r.first_ip, r.uh48)).values.map(_.head).toSeq.sortBy(_.uh48)
    val reps = reqs.filter(_ => rnd.nextInt(2) == 0).map { r =>
      FrontierReply(r.uh48, r.first_ip, 1400000000L - rnd.nextInt(300000),
        Seq(0, 0, 404, UrlFilters.EDNSTIMEDOUT)(rnd.nextInt(4)), Seq(200, 404)(rnd.nextInt(2)),
        -1, 1400000000000L - rnd.nextInt(1000000), Seq("en", "de", "fr")(rnd.nextInt(3)), rnd.nextInt(),
        Seq(0f, 10f, 30f)(rnd.nextInt(3)),
        Seq(Flags.RepIsRSS, Flags.RepIsPermalink, Flags.RepIsIndexed).filter(_ => rnd.nextBoolean()).foldLeft(0L)(_ | _),
        rnd.nextInt(3))
    }
    val inlinks = reqs.filter(_ => rnd.nextInt(4) == 0).map(r =>
      InlinkState(r.first_ip, r.uh48, Array.tabulate(rnd.nextInt(10))(identity)))
    val quota = reqs.flatMap(r => Seq(r.site_hash32, r.dom_hash32, r.site_hash32 ^ 0x123456, r.dom_hash32 ^ 0x123456))
      .distinct.filter(_ => rnd.nextInt(3) > 0).map(k => (k, rnd.nextInt(12).toLong)).toDF("key", "n")
    (session.createDataset(reqs), session.createDataset(reps), session.createDataset(inlinks), quota)
  }

  /** Rule table `t` of a run: its first rule holds token `t mod #tokens`,
    * negated on the second pass over the tokens, so every token is drawn
    * with and without `!`; the rest is random. */
  private def generatedCfg(t: Int, rnd: scala.util.Random): Crawl.Config = {
    def tok(k: Int, neg: Boolean) = (if (neg) "!" else "") + allTokens(k)(rnd)
    def rule(expr: String) = UrlFilterRule(expr, harvestLinks = true, rnd.nextInt(30).toDouble / 4,
      9, 1 + rnd.nextInt(5), rnd.nextInt(3) * 500, rnd.nextInt(100), forceDelete = rnd.nextInt(5) == 0)
    def randomTok() = tok(rnd.nextInt(allTokens.size), rnd.nextBoolean())
    val first = (tok(t % allTokens.size, (t / allTokens.size) % 2 == 1) +:
      Seq.fill(rnd.nextInt(3))(randomTok())).mkString(" && ")
    val rest = Seq.fill(rnd.nextInt(4))(Seq.fill(1 + rnd.nextInt(2))(randomTok()).mkString(" && "))
    val tail = if (rnd.nextInt(4) > 0) Seq("default") else Nil
    val siteList = if (rnd.nextBoolean()) rnd.shuffle(siteLines).take(1 + rnd.nextInt(4)) else Nil
    val patterns = rnd.nextInt(4) match {
      case 0 => CrawlPatterns()
      case 1 => CrawlPatterns(ucp = Seq("/p1", "/m"), upp = Seq("h3"))
      case 2 => CrawlPatterns(ucr = Some(java.util.regex.Pattern.compile("p\\d+\\.html")),
        upr = Some(java.util.regex.Pattern.compile("^https://")))
      case _ => CrawlPatterns(ucp = Seq("feed"))
    }
    Crawl.Config(rules = ((first +: rest) ++ tail).map(rule).toIndexedSeq, siteList = siteList, patterns = patterns)
  }

  private def generatedCrossCheck(session: SparkSession, tables: Range, seed: Long): Unit = {
    import session.implicits._
    val (reqs, reps, inlinks, quotaTable) = richFrontier(session, 240, seed)
    val ips = session.createDataset(Seq(3, 6, 9, 12).map(ip => IpState(ip, 1400000000000L - 500)))
    val doms = session.emptyDataset[DomState]
    val rnd = new scala.util.Random(seed)
    def rows(ds: org.apache.spark.sql.Dataset[FetchTask]) =
      ds.collect().toSeq.sortBy(t => (t.first_ip, t.seq_in_ip))
    val scheduled = tables.count { t =>
      val cfg = generatedCfg(t, rnd)
      val quota = if (rnd.nextBoolean()) quotaTable else null
      val what = s"table $t ${cfg.rules.map(_.expr).mkString("[", " | ", "]")} siteList=${cfg.siteList} " +
        s"patterns=${cfg.patterns} quota=${quota != null}"
      val interp = rows(Crawl.scheduleInterpreted(reqs, reps, ips, doms, cfg, 1, inlinks, quota))
      val compiled = rows(Crawl.schedule(reqs, reps, ips, doms, cfg, 1, inlinks, quota))
      assert(compiled == interp, s"schedule, $what: ${compiled.diff(interp).take(3)} vs ${interp.diff(compiled).take(3)}")
      // a wake-unsafe table takes the plain route, the one checked above
      val so = Crawl.scheduleWake(reqs, reps, ips, doms, cfg, 1, inlinks, quota, ipNext = None)
      assert(so.wake == Crawl.wakeSafeRules(cfg))
      if (so.wake) {
        val wake = rows(so.dole.filter(col("seq_in_ip") >= 0).as[FetchTask])
        assert(wake == interp, s"scheduleWake, $what: ${wake.diff(interp).take(3)} vs ${interp.diff(wake).take(3)}")
      }
      interp.nonEmpty
    }
    assert(scheduled >= tables.size / 2, s"only $scheduled of ${tables.size} tables schedule anything")
  }

  /** Tables 0 until 2 × #tokens: every token, with and without `!`. */
  private val generatedTables = 0 until 2 * allTokens.size

  test("generated rule tables: compiled == interpreted, every token with and without '!'") {
    assert(generatedTables.size >= 100)
    generatedCrossCheck(spark, generatedTables, 17L)
  }

  test("generated rule tables on the quiet session (interpreted expressions)") {
    val quiet = GraftShim.quietSession(spark, 240)
    assert(GraftShim.isQuiet(quiet))
    generatedCrossCheck(quiet, generatedTables, 29L)
  }

  test("lang==en,de takes the bridge and matches the interpreter") {
    import spark.implicits._
    val rules = Vector(
      UrlFilterRule("lang==en,de", harvestLinks = true, 1, 1, 3, 1000, 50),
      UrlFilterRule("default", harvestLinks = true, 1, 1, 3, 1000, 10))
    val cfg = Crawl.Config(rules = rules)
    val (reqs, reps, inlinks, _) = richFrontier(spark, 240, 5L)
    val ips = spark.emptyDataset[IpState]
    val doms = spark.emptyDataset[DomState]
    val interp = Crawl.scheduleInterpreted(reqs, reps, ips, doms, cfg, 1, inlinks).collect().toSeq
    val compiled = Crawl.schedule(reqs, reps, ips, doms, cfg, 1, inlinks).collect().toSeq
    assert(compiled.sortBy(t => (t.first_ip, t.seq_in_ip)) == interp.sortBy(t => (t.first_ip, t.seq_in_ip)))
    assert(interp.exists(_.ufn == 0) && interp.exists(_.ufn == 1), "both rules must win rows")
  }
}
