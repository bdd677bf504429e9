package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Dataset
import graft.core.GbUrl
import graft.frontier._

/** A7 pageNumInlinks: distinct inlinking-parent c-blocks per URL feed the
  * `numinlinks>7` default-table rows (priority 52/51), which were dead
  * wiring in round 1 (engine passed literal 0). See InlinkState scaladoc
  * for the documented deviation from the reference's vestigial scan
  * (Spider.cpp:4286-4327; Spider.h:520 m_parentFirstIp commented out). */
class InlinkSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  private def req(url: String, ip: Int, hop: Int, flags: Long = Flags.IsNewOutlink): FrontierRequest = {
    val u = GbUrl.parse(url)
    FrontierRequest(u.uh48, ip, u.url, u.hostHash32, u.domHash32, u.hostHash32,
      -1, 1400000000L, 1400000000L, hop, "", flags, 0, 0L)
  }

  test("multi-inlink URL outranks a hop-0 www page on the same IP (priority 52 > 50)") {
    import spark.implicits._
    val ip = 42
    val hot = req("http://target.test/hot.html", ip, hop = 2)
    val root = req("http://www.target.test/", ip, hop = 0)
    val reqs = spark.createDataset(Seq(hot, root))
    val inl = spark.createDataset(Seq(InlinkState(ip, hot.uh48, (1 to 8).map(k => k << 8).toArray)))
    val cfg = Crawl.Config()
    for (sched <- Seq[(Dataset[FrontierRequest]) => Dataset[FetchTask]](
      r => Crawl.schedule(r, spark.emptyDataset[FrontierReply], spark.emptyDataset[IpState],
        spark.emptyDataset[DomState], cfg, 1, inl),
      r => Crawl.scheduleInterpreted(r, spark.emptyDataset[FrontierReply], spark.emptyDataset[IpState],
        spark.emptyDataset[DomState], cfg, 1, inl))) {
      val batch = sched(reqs).collect().sortBy(_.seq_in_ip)
      assert(batch.length == 2)
      // hot.html: isnew && numinlinks>7 → rule 7, priority 52; the www
      // root: hopcount==0 && iswww && isnew → rule 9, priority 50
      assert(batch(0).url == "http://target.test/hot.html", batch.mkString(", "))
      assert(batch(0).priority == 52, s"expected numinlinks rule (52), got ${batch(0).priority}")
      assert(batch(1).priority == 50)
    }
  }

  test("numinlinks>7 without isnew lands on priority 51") {
    import spark.implicits._
    val ip = 7
    val hot = req("http://target2.test/a.html", ip, hop = 3, flags = Flags.IsNewOutlink | Flags.HadReply)
    val reqs = spark.createDataset(Seq(hot))
    val reps = spark.createDataset(Seq(FrontierReply(hot.uh48, ip, 1399000000L, 0, 200, -1, 0L, "en", 0, 0f, 0L, 0)))
    val inl = spark.createDataset(Seq(InlinkState(ip, hot.uh48, (1 to 9).map(k => k << 10).toArray)))
    val batch = Crawl.schedule(reqs, reps, spark.emptyDataset[IpState],
      spark.emptyDataset[DomState], Crawl.Config(), 1, inl).collect()
    assert(batch.length == 1 && batch.head.priority == 51)
  }

  test("inlink state accumulates distinct parent c-blocks across iterations, cap 20") {
    import spark.implicits._
    val work = tmpdir("graftinlink")
    Crawl.run(spark, work, Corpus.micro, 3)
    val st = Crawl.loadInlinkState(spark, work, Crawl.latestSnapshot(work).get).collect()
    assert(st.nonEmpty, "inlink state written")
    assert(st.forall(_.cblocks.length <= 20))
    assert(st.forall(s => s.cblocks.toSeq == s.cblocks.toSeq.distinct.sorted), "deterministic sorted distinct")
    // the hub (www.h0.test/) is linked from every root — multiple c-blocks
    val hub = GbUrl.parse("http://www.h0.test/").uh48
    val hubState = st.filter(_.uh48 == hub)
    assert(hubState.nonEmpty && hubState.head.cblocks.length >= 2,
      s"hub should accumulate multiple inlinking c-blocks, got ${hubState.map(_.cblocks.mkString(",")).mkString}")
  }
}
