package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.GbUrl
import graft.frontier._

/** HTTP redirect handling (XmlDoc::getRedirUrl, XmlDoc.cpp:11341-11790):
  * simplified redirects re-queue the target keeping the hop count; plain
  * redirects are followed through to the final content; loops and
  * over-long chains error with the reference's codes. */
class RedirectSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  test("redirect closure classification") {
    import spark.implicits._
    val rows = Seq(
      RedirectRow("http://a.test/old/page.html", "/s1/"), // simplified (shorter depth)
      RedirectRow("http://a.test/moved.html", "/s1/leaf0.html"), // followed (deeper)
      RedirectRow("http://a.test/loop.html", "http://a.test/loop.html"), // self
      RedirectRow("http://a.test/c1.html", "/c2.html"), // chain of 2
      RedirectRow("http://a.test/c2.html", "/c3deeper/more/x.html"),
      RedirectRow("http://a.test/bad.html", "ftp://files.test/x"), // bad proto
      RedirectRow("http://a.test/www.html", "http://www.a.test/www.html") // adds www → simplified
    )
    val closure = Crawl.redirectClosure(spark.createDataset(rows)).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(closure("http://a.test/old/page.html") == ("http://a.test/s1/", Errs.EDOCSIMPLIFIEDREDIR))
    assert(closure("http://a.test/moved.html") == ("http://a.test/s1/leaf0.html", 0))
    assert(closure("http://a.test/loop.html")._2 == Errs.EDOCREDIRECTSTOSELF)
    assert(closure("http://a.test/c1.html") == ("http://a.test/c3deeper/more/x.html", 0))
    assert(closure("http://a.test/bad.html")._2 == Errs.EDOCBADREDIRECTURL)
    assert(closure("http://a.test/www.html")._2 == Errs.EDOCSIMPLIFIEDREDIR)
  }

  test("chain of 11 redirects → EDOCTOOMANYREDIRECTS") {
    import spark.implicits._
    val rows = (0 until 12).map(i =>
      RedirectRow(s"http://c.test/r$i.html", s"/r${i + 1}.html"))
    val closure = Crawl.redirectClosure(spark.createDataset(rows)).collect()
      .map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(closure("http://c.test/r0.html") == Errs.EDOCTOOMANYREDIRECTS)
    assert(closure("http://c.test/r11.html") == 0) // only 1 hop from here
  }

  test("crawl through redirects: simplified re-queued with hop kept; plain followed") {
    val work = tmpdir("graft_redir")
    Crawl.run(spark, work, Corpus.micro, 7)
    import spark.implicits._
    val reps = Crawl.loadReplies(spark, work, 7).collect().map(r => r.uh48 -> r).toMap
    def uh(u: String) = GbUrl.parse(u).uh48
    // h7 serves the redirect fixtures
    val old = reps.get(uh("http://www.h7.test/old/page.html"))
    assert(old.exists(_.err_code == Errs.EDOCSIMPLIFIEDREDIR), s"old/page.html: ${old.map(_.err_code)}")
    val loop = reps.get(uh("http://www.h7.test/loop.html"))
    assert(loop.exists(_.err_code == Errs.EDOCREDIRECTSTOSELF), s"loop: ${loop.map(_.err_code)}")
    // /moved.html followed through: indexed OK with the TARGET's content
    val moved = reps.get(uh("http://www.h7.test/moved.html"))
    assert(moved.exists(_.err_code == Errs.OK), s"moved: ${moved.map(_.err_code)}")
    val leafText = graft.core.GbXml.extractText(Corpus.pageBytes(7, Corpus.micro.sectionsPerHost + 1, Corpus.micro))
    // content hash of moved == hash of the redirect target's text
    assert(moved.exists(_.content_hash32 == graft.core.GbHash.hash32(leafText)))
  }
}
