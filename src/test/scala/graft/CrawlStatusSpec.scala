package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.frontier.{Corpus, Crawl}

/** A9: SP_* crawl-status taxonomy + crawl limits (Spider.h:32-42,
  * getSpiderStatusMsg Spider.cpp:14540+, maxToCrawl stop like
  * spiderDoledUrls' cap check). */
class CrawlStatusSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("maxToCrawl cap flips status to SP_MAXTOCRAWL and stops the loop") {
    val work = tmpdir("graft_status1")
    val res = Crawl.run(spark, work, Corpus.micro, 8,
      Crawl.Config(maxToCrawl = 5L))
    assert(res.nonEmpty && res.size < 8, "cap must stop the loop early")
    assert(res.last.status == Crawl.SpiderStatus.MaxToCrawl)
    assert(res.init.forall(_.status == Crawl.SpiderStatus.InProgress))
    val st = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$work/STATUS.json"))
    assert(st.contains("\"spider_status\":2"))
    assert(st.contains("maxToCrawl limit"))
  }

  test("round exhaustion with maxRounds=1 converts ROUNDDONE to SP_MAXROUNDS") {
    val work = tmpdir("graft_status2")
    val spec = Corpus.Spec(1, 1, 2) // one host, exhausts in a few iterations
    val res = Crawl.run(spark, work, spec, 12,
      Crawl.Config(maxRounds = 1),
      seedUrls = Seq(s"http://${Corpus.host(0)}/"))
    assert(res.size < 12, "round cap must stop the loop early")
    assert(res.last.status == Crawl.SpiderStatus.MaxRounds)
    assert(res.last.scheduled == 0)
  }

  test("maxRounds=0 means NO round limit (m_maxCrawlRounds > 0 gate, Spider.cpp:6600-6603)") {
    val work = tmpdir("graft_status3")
    val spec = Corpus.Spec(1, 1, 2)
    val res = Crawl.run(spark, work, spec, 8,
      Crawl.Config(maxRounds = 0),
      seedUrls = Seq(s"http://${Corpus.host(0)}/"))
    // the crawl exhausts (ROUNDDONE iterations appear) but never
    // converts to SP_MAXROUNDS — 0 is "no limit", not "zero rounds"
    assert(res.exists(_.status == Crawl.SpiderStatus.RoundDone))
    assert(!res.exists(_.status == Crawl.SpiderStatus.MaxRounds))
  }

  test("a resumed crawl keeps its counters: the maxToCrawl stop lands on the same iteration") {
    val a = tmpdir("graft_status4"); val b = tmpdir("graft_status5")
    val capped = Crawl.Config(maxToCrawl = 5L)
    val straight = Crawl.run(spark, a, Corpus.micro, 8, capped)
    // split after iteration 2: iteration 1 downloads nothing (its
    // add-url seeds are answered EFAKEFIRSTIP), so the counters the
    // resume must carry are first nonzero there
    Crawl.run(spark, b, Corpus.micro, 2, capped)
    Crawl.run(spark, b, Corpus.micro, 6, capped)
    def status(w: String) = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$w/STATUS.json"))
    assert(straight.last.status == Crawl.SpiderStatus.MaxToCrawl)
    assert(Crawl.latestSnapshot(b) == Crawl.latestSnapshot(a), "the resumed crawl stops on another iteration")
    assert(status(b) == status(a))
    // a crawl stopped at SP_MAXTOCRAWL does not crawl again when resumed
    assert(Crawl.run(spark, b, Corpus.micro, 3, capped).isEmpty)
    assert(Crawl.latestSnapshot(b) == Crawl.latestSnapshot(a))
  }

  test("status messages match the reference's taxonomy") {
    import Crawl.SpiderStatus._
    assert(msg(MaxRounds).contains("maxRounds"))
    assert(msg(MaxToCrawl).contains("maxToCrawl"))
    assert(msg(InProgress).contains("in progress"))
    assert(Seq(Initializing, MaxRounds, MaxToCrawl, MaxToProcess, RoundDone,
      NoUrls, Paused, InProgress, AdminPaused, Completed, SeedsError) == (0 to 10))
  }
}
