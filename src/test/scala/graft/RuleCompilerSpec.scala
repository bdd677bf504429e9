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
      col("rep_err_count"), col("rep_http_status"), lit(1400000000L))
    assert(RuleCompiler.compile(UrlFilters.defaultWebRules, c).isDefined)
  }

  test("compiler rejects unsupported tokens (falls back to interpreter)") {
    import org.apache.spark.sql.functions._
    val c = RuleCompiler.Cols(col("url"), col("hop_count"), col("flags"),
      col("added_time"), col("discovery_time"), col("site_num_inlinks"), lit(0),
      col("rep_exists"), col("rep_spidered_time"), col("rep_err_code"),
      col("rep_err_count"), col("rep_http_status"), lit(1400000000L))
    val rules = Vector(UrlFilterRule("lang==en,de", harvestLinks = true, 1, 1, 1, 1000, 50))
    assert(RuleCompiler.compile(rules, c).isEmpty)
  }
}
