package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GbUrl, GbXml}
import graft.frontier._

/** S7 titledb sink (crawled-content snapshot) + S3 query reindex. */
class TitledbSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  test("titledb accumulates fetched pages, byte-exact, compaction keeps latest") {
    val work = tmpdir("graft_titledb")
    Crawl.run(spark, work, Corpus.micro, 5) // compaction at 4
    val i = Crawl.latestSnapshot(work).get
    val rows = Crawl.loadTitledb(spark, work, i).collect()
    assert(rows.nonEmpty)
    // every record is a successfully fetched page with its raw SERVED
    // bytes and byte-exact extracted text. Frame-bearing pages (k≡2 mod
    // 8 roots) store the extraction of the EXPANDED doc (iframe
    // contents spliced in, getExpandedUtf8Content) — their text is a
    // superset of the unexpanded extraction.
    rows.foreach { t =>
      assert(t.http_status == 200 && t.html != null && t.html.nonEmpty, t.url)
      if (t.url.endsWith(".pdf"))
        // PDF records store the raw SERVED pdf bytes but the extraction
        // of the GbPdf-converted html (the pdftohtml pipe analogue)
        assert(GbXml.extractText(
          graft.core.GbPdf.toHtml(t.html).getBytes("UTF-8")) == t.text,
          s"titledb pdf text mismatch for ${t.url}")
      else if (!graft.core.GbIframe.mayHaveFrames(t.html))
        assert(GbXml.extractText(t.html) == t.text, s"titledb text mismatch for ${t.url}")
      else {
        val unexpanded = GbXml.extractText(t.html)
        assert(t.text.startsWith(unexpanded.takeWhile(_ != '\n')), t.url)
        assert(t.text.length >= unexpanded.length, s"expanded text shorter for ${t.url}")
      }
    }
    // one record per uh48
    assert(rows.map(_.uh48).distinct.length == rows.length)
    // the compacted snapshot has a full titledb table
    assert(new java.io.File(s"${Crawl.snapDir(work, 4)}/titledb").exists)
    // roots fetched at iteration 1 are present
    val rootUh = GbUrl.parse("http://www.h0.test/").uh48
    assert(rows.exists(_.uh48 == rootUh))
  }

  test("reindex (S3): re-queues a crawled url immediately, refetch updates titledb") {
    val work = tmpdir("graft_reindex")
    val cfg = Crawl.Config()
    Crawl.run(spark, work, Corpus.micro, 4, cfg)
    val url = "http://www.h0.test/s1/" // crawled at iteration 3 (seeds take the
      // EFAKEFIRSTIP DNS hop at iter 1); NOT a seed (its fake-ip slot is free)
    val before = Crawl.loadTitledb(spark, work, Crawl.latestSnapshot(work).get)
      .filter(_.url == url).collect().head
    val n = Crawl.reindex(spark, work, Seq(url), cfg)
    assert(n == 1, "reindex request admitted (composite-key dedup: fake-ip slot is new)")
    import spark.implicits._
    val i = Crawl.latestSnapshot(work).get
    val req = Crawl.loadRequests(spark, work, i).filter(_.url == url)
      .collect().filter(r => Flags.has(r.flags, Flags.IsPageReindex))
    assert(req.nonEmpty, "reindex request carries IsPageReindex")
    // it schedules immediately on the isreindex rule (priority 80)
    val batch = Crawl.schedule(Crawl.loadRequests(spark, work, i),
      Crawl.loadReplies(spark, work, i),
      Crawl.loadIpState(spark, work, i),
      spark.read.parquet(s"${Crawl.snapDir(work, i)}/dom_state").as[DomState], cfg, i + 1)
      .collect().filter(_.url == url)
    assert(batch.exists(_.priority == 80), s"expected isreindex priority 80, got ${batch.map(_.priority).toSeq}")
    // run one more iteration: the refetch lands in titledb with a newer time
    Crawl.run(spark, work, Corpus.micro, 1, cfg)
    val after = Crawl.loadTitledb(spark, work, Crawl.latestSnapshot(work).get)
      .filter(_.url == url).collect().head
    assert(after.spidered_time > before.spidered_time, s"${after.spidered_time} vs ${before.spidered_time}")
  }
}
