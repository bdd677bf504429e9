package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GbIframe, GbUrl}
import java.nio.charset.StandardCharsets.UTF_8

/** Frame/iframe expansion scan + splice (getExpandedUtf8Content,
  * XmlDoc.cpp:19481-19768; getFieldValue Words.cpp:1282-1355). */
class GbIframeSpec extends AnyFunSuite {

  private val base = GbUrl.parse("http://www.x.test/page.html")
  private def cands(html: String) = GbIframe.candidates(html.getBytes(UTF_8), base)

  test("src extraction, relative resolution, splice point after '>'") {
    val h = """<html><body><iframe src="/inner.html"></iframe></body></html>"""
    val cs = cands(h)
    assert(cs.map(_.url) == Seq("http://www.x.test/inner.html"))
    assert(h.substring(cs.head.spliceAt - 1, cs.head.spliceAt) == ">")
    // unquoted and single-quoted srcs (getFieldValue)
    assert(cands("""<iframe src=/a.html>""").map(_.url) == Seq("http://www.x.test/a.html"))
    assert(cands("""<iframe src='/b.html'>""").map(_.url) == Seq("http://www.x.test/b.html"))
  }

  test("frameset matches the 'frame' prefix (XmlDoc.cpp:19597 quirk)") {
    assert(cands("""<frameset src="/f.html">""").nonEmpty)
    assert(cands("""<frame src="/f.html">""").nonEmpty)
  }

  test("skip rules: empty, about:blank, self, non-http, google/bing") {
    assert(cands("""<iframe src="">""").isEmpty)
    assert(cands("""<iframe src="about:blank">""").isEmpty)
    assert(cands("""<iframe src="http://www.x.test/page.html">""").isEmpty) // recursion
    assert(cands("""<iframe src="ftp://files.test/x">""").isEmpty)
    assert(cands("""<iframe src="http://www.google.com/w">""").isEmpty)
    assert(cands("""<iframe src="http://maps.bing.com/w">""").isEmpty)
  }

  test("iframes inside <script> are skipped (XmlDoc.cpp:19584-19595)") {
    val h = """<script>document.write('<iframe src="/s.html">');</script><iframe src="/real.html">"""
    assert(cands(h).map(_.url) == Seq("http://www.x.test/real.html"))
  }

  test("expand: <gbframe> splice, js <script> wrap, max 5") {
    val h = """<p>before</p><iframe src="/a.html"></iframe><p>after</p>"""
    val m = Map("http://www.x.test/a.html" ->
      GbIframe.FrameContent("http://www.x.test/a.html", "<p>INNER</p>".getBytes(UTF_8), isJs = false))
    val out = new String(GbIframe.expand(h.getBytes(UTF_8), base, m), UTF_8)
    assert(out ==
      """<p>before</p><iframe src="/a.html"><gbframe><p>INNER</p></gbframe></iframe><p>after</p>""")

    val js = Map("http://www.x.test/a.html" ->
      GbIframe.FrameContent("http://www.x.test/a.html", "var x=1;".getBytes(UTF_8), isJs = true))
    val out2 = new String(GbIframe.expand(h.getBytes(UTF_8), base, js), UTF_8)
    assert(out2.contains("<gbframe><script>var x=1;</script></gbframe>"))

    // 6 frames, only 5 expand (XmlDoc.cpp:19745 m_numExpansions >= 5)
    val many = (1 to 6).map(i => s"""<iframe src="/f$i.html">""").mkString
    val mm = (1 to 6).map { i =>
      s"http://www.x.test/f$i.html" ->
        GbIframe.FrameContent(s"http://www.x.test/f$i.html", s"<i>$i</i>".getBytes(UTF_8), isJs = false)
    }.toMap
    val out3 = new String(GbIframe.expand(many.getBytes(UTF_8), base, mm), UTF_8)
    assert((1 to 5).forall(i => out3.contains(s"<i>$i</i>")))
    assert(!out3.contains("<i>6</i>"))
  }

  test("unfetched frames are skipped, content untouched when none fetched") {
    val h = """<iframe src="/missing.html"><p>t</p>"""
    val out = GbIframe.expand(h.getBytes(UTF_8), base, Map.empty)
    assert(new String(out, UTF_8) == h)
  }

  test("fetch expands frames via the pages join: robots-denied and google frames stay out") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false").appName("iframe-fetch").getOrCreate()
    import spark.implicits._
    import graft.frontier._
    val spec = Corpus.micro
    val pages = Corpus.pages(spark, spec)
    val robots = Corpus.robots(spark, spec)
    // host 2 root carries the iframe fixtures (Corpus k%8==2)
    val url = s"http://${Corpus.host(2)}/"
    // the url twice, under two first_ips (a reindex's fake IP beside
    // the url's own request): one result per task, both expanded
    val batch = spark.createDataset(Seq(99, 100).map(ip =>
      FetchTask(GbUrl.parse(url).uh48, ip, url, 50, 0, 0L, 0, 0)))
    val results = Crawl.fetch(batch, pages, robots, Crawl.Config(), 1).collect()
    assert(results.map(_.task.first_ip).sorted.toSeq == Seq(99, 100))
    results.foreach { res =>
      assert(res.errCode == frontier.Errs.OK)
      // the same-host /s1/leaf0.html frame expanded into the root's text
      assert(res.extractedText.contains("Host 2 page 3"), res.extractedText.take(400))
      // the cross-host frame target (host 5, /s1 robots-disallowed) did NOT
      assert(!res.extractedText.contains("Host 5 page"))
    }
  }

  test("extraction of an expanded doc includes the frame text") {
    val h = """<html><body><p>host</p><iframe src="/a.html"></iframe></body></html>"""
    val m = Map("http://www.x.test/a.html" ->
      GbIframe.FrameContent("http://www.x.test/a.html", "<p>frame words</p>".getBytes(UTF_8), isJs = false))
    val expanded = GbIframe.expand(h.getBytes(UTF_8), base, m)
    val text = graft.core.GbXml.extractText(expanded)
    assert(text.contains("frame words"))
  }
}
