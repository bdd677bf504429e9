package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.frontier._
import graft.sources.Warc
import graft.streaming.SeedStream

class SourcesSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  test("WARC round-trip: build container, read pages, byte-exact text") {
    import spark.implicits._
    val spec = Corpus.micro
    val recs = (0 until 3).map { k =>
      val url = Corpus.pageUrl(k, 0, spec)
      (url, "2014-01-01T00:00:00Z", Corpus.pageHtml(k, 0, spec).getBytes("UTF-8"))
    }
    val dir = java.nio.file.Paths.get(tmpdir("graftwarc"))
    java.nio.file.Files.write(dir.resolve("fixture.warc"), Warc.buildWarc(recs))
    val pages = Warc.readPages(spark, dir.toString).collect().sortBy(_.url)
    assert(pages.length == 3)
    pages.zip(recs.sortBy(_._1)).foreach { case (p, (url, _, html)) =>
      assert(p.url == url)
      assert(p.html.sameElements(html))
      assert(p.text == graft.core.GbXml.extractText(html), url)
    }
  }

  test("WARC gzip/deflate payload members decode before extraction; corrupt members drop") {
    val spec = Corpus.micro
    def rec(k: Int, enc: String) = {
      val url = Corpus.pageUrl(k, 0, spec)
      (url, "2014-01-01T00:00:00Z", Corpus.pageHtml(k, 0, spec).getBytes("UTF-8"), enc)
    }
    val dir = java.nio.file.Paths.get(tmpdir("graftwarcgz"))
    java.nio.file.Files.write(dir.resolve("fixture.warc"),
      Warc.buildWarcEnc(Seq(rec(0, "gzip"), rec(1, "deflate"), rec(3, ""))))
    // a corrupt gzip member: valid mime advertising gzip, garbage body
    val badBody = Array[Byte](0x1f, 0x2b, 9, 9, 9, 9)
    val badHttp = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Content-Encoding: gzip\r\n\r\n").getBytes("ISO-8859-1")
    val bad = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://www.h9.test/\r\nWARC-Date: 2014-01-01T00:00:00Z\r\n" +
      s"Content-Length: ${badHttp.length + badBody.length}\r\n\r\n")
      .getBytes("ISO-8859-1") ++ badHttp ++ badBody ++ "\r\n\r\n".getBytes("ISO-8859-1")
    java.nio.file.Files.write(dir.resolve("bad.warc"), bad)
    val pages = Warc.readPages(spark, dir.toString).collect().sortBy(_.url)
    // the corrupt member is dropped (ECORRUPTHTTPGZIP analogue)
    assert(!pages.exists(_.url.contains("h9")))
    assert(pages.length == 3)
    pages.foreach { p =>
      // html carries the UNCOMPRESSED bytes (gbuncompress precedes
      // XmlDoc), so text extraction sees real markup
      assert(new String(p.html, "UTF-8").startsWith("<html>"), p.url)
      assert(p.text == graft.core.GbXml.extractText(p.html), p.url)
      assert(p.text.nonEmpty)
    }
  }

  test("WARC PDF members ride through with their CT; image members still drop (indexWarcOrArc CT list)") {
    val pdf = ("%PDF-1.4\n1 0 obj << /Length 40 >> stream\n" +
      "BT (warc pdf member text) Tj ET\nendstream endobj\n%%EOF\n")
      .getBytes("ISO-8859-1")
    val html = "<html><body>plain member</body></html>".getBytes("UTF-8")
    val gif = Array[Byte]('G', 'I', 'F', '8', '9', 'a', 0, 0)
    val dir = java.nio.file.Paths.get(tmpdir("graftwarcpdf"))
    java.nio.file.Files.write(dir.resolve("fixture.warc"), Warc.buildWarcCt(Seq(
      ("http://www.hp.test/doc.pdf", "2014-01-01T00:00:00Z", pdf, "", "application/pdf"),
      ("http://www.hp.test/", "2014-01-01T00:00:00Z", html, "", "text/html"),
      ("http://www.hp.test/x.gif", "2014-01-01T00:00:00Z", gif, "", "image/gif"))))
    val pages = Warc.readPages(spark, dir.toString).collect().sortBy(_.url)
    assert(pages.length == 2) // gif member dropped at ingest
    val p = pages.find(_.url.endsWith(".pdf")).get
    assert(p.content_type == "application/pdf")
    assert(p.html.sameElements(pdf)) // raw served bytes kept
    // text = extraction of the GbPdf-converted html (the pipeline fate)
    assert(p.text == graft.core.GbXml.extractText(
      graft.core.GbPdf.toHtml(pdf).getBytes("UTF-8")))
    assert(p.text.contains("warc pdf member text"))
    assert(pages.find(_.url == "http://www.hp.test/").get.content_type == "")
  }

  test("WARC parser skips non-response records and truncation") {
    val good = Warc.buildWarc(Seq(("http://a.test/", "2014-01-01T00:00:00Z", "<p>x</p>".getBytes)))
    val meta = ("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nblah\r\n\r\n").getBytes
    val recs = Warc.parseWarc(meta ++ good)
    assert(recs.length == 1 && recs.head.url == "http://a.test/")
    // truncated tail does not throw
    assert(Warc.parseWarc(good.dropRight(20)).length <= 1)
  }

  test("injection appends frontier delta and bypasses politeness") {
    import spark.implicits._
    val work = tmpdir("graftinject")
    val cfg = Crawl.Config()
    Crawl.run(spark, work, Corpus.micro, 2, cfg)
    val before = Crawl.loadRequests(spark, work, Crawl.latestSnapshot(work).get).count()
    val n = Crawl.inject(spark, work, Seq("http://www.h7.test/injected.html", "http://www.h0.test/"), cfg)
    val i = Crawl.latestSnapshot(work).get
    val after = Crawl.loadRequests(spark, work, i)
    // the brand-new url is admitted; the already-seen root is not
    val injected = after.filter(r => Flags.has(r.flags, Flags.IsInjecting)).collect()
    assert(injected.length == 1)
    assert(injected.head.url == "http://www.h7.test/injected.html")
    assert(after.count() == before + 1)
    // injected request schedules immediately despite politeness state
    val batch = Crawl.schedule(after,
      Crawl.loadReplies(spark, work, i),
      Crawl.loadIpState(spark, work, i),
      spark.read.parquet(s"${Crawl.snapDir(work, i)}/dom_state").as[DomState], cfg, i + 1)
    assert(batch.filter(_.url == "http://www.h7.test/injected.html").count() == 1)
  }

  test("injection right after compaction is not lost (full table + delta in one snapshot)") {
    import spark.implicits._
    val work = tmpdir("graftinject2")
    val cfg = Crawl.Config()
    // 4 iterations with compactEvery=4 → snap_4 holds FULL tables
    Crawl.run(spark, work, Corpus.micro, 4, cfg, compactEvery = 4)
    val i = Crawl.latestSnapshot(work).get
    assert(new java.io.File(s"${Crawl.snapDir(work, i)}/requests").exists,
      "precondition: latest snapshot is compacted (full requests table)")
    val n = Crawl.inject(spark, work, Seq("http://www.h6.test/after-compaction.html"), cfg)
    assert(n == 1)
    // the injected url must be loadable (delta unioned with the full table)
    val reqs = Crawl.loadRequests(spark, work, i)
    assert(reqs.filter(_.url == "http://www.h6.test/after-compaction.html").count() == 1,
      "injected url dropped: loadTable ignored the same-snapshot delta")
    // and schedulable
    val batch = Crawl.schedule(reqs,
      Crawl.loadReplies(spark, work, i),
      Crawl.loadIpState(spark, work, i),
      spark.read.parquet(s"${Crawl.snapDir(work, i)}/dom_state").as[DomState], cfg, i + 1)
    assert(batch.filter(_.url == "http://www.h6.test/after-compaction.html").count() == 1)
  }

  test("streaming seed intake: MemoryStream of raw urls → deduped requests") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val out = SeedStream.toRequests(mem.toDS(), 1400000000L)
    val query = out.writeStream.format("memory").queryName("seeds_out")
      .outputMode("append").start()
    mem.addData("http://www.s1.test/", "WWW.S2.test/a/../b", "http://www.s1.test/", "not a url ://")
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("seeds_out").as[FrontierRequest].collect()
    val urls = rows.map(_.url).sorted
    assert(urls.contains("http://www.s1.test/"))
    assert(urls.contains("http://www.s2.test/b"))
    assert(rows.forall(r => Flags.has(r.flags, Flags.IsAddUrl)))
    assert(urls.distinct.length == urls.length, "within-stream dedup")
  }
}
