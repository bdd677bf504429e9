package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Robots

class RobotsSpec extends AnyFunSuite {

  private def bytes(s: String) = s.getBytes("UTF-8")
  private def eval(path: String, txt: String, ua: String = Robots.DefaultUserAgent) =
    Robots.evaluate(path, bytes(txt), ua)

  test("empty file allows everything") {
    assert(eval("/x", "") == (true, -1))
  }

  test("star block disallow prefix match") {
    val txt =
      """User-Agent: *
        |Disallow: /private
        |""".stripMargin
    assert(eval("/private", txt)._1 == false)
    assert(eval("/private/sub", txt)._1 == false)
    // substring-strength: /privateer also blocked (documented quirk)
    assert(eval("/privateer", txt)._1 == false)
    assert(eval("/public", txt)._1 == true)
  }

  test("ua-specific block overrides star; left-anchored substring ua match") {
    val txt =
      """User-agent: Gigablast
        |Disallow: /a
        |
        |User-agent: *
        |Disallow: /
        |""".stripMargin
    // our UA matched by left-anchored substring (file "Gigablast" vs UA "GigablastOpenSource")
    assert(eval("/a/x", txt)._1 == false)
    assert(eval("/b", txt)._1 == true) // star block NOT consulted: ua found + had disallow
  }

  test("allow lines do NOT whitelist (non-standard)") {
    val txt =
      """User-agent: *
        |Disallow: /dir
        |Allow: /dir/ok.html
        |""".stripMargin
    assert(eval("/dir/ok.html", txt)._1 == false)
  }

  test("ua block with only crawl-delay falls through to star block") {
    // wikihow case (XmlDoc.cpp:15259-15262)
    val txt =
      """User-agent: Gigablast
        |Crawl-delay: 10
        |
        |User-agent: *
        |Disallow: /secret
        |""".stripMargin
    val (allowed, delay) = eval("/secret", txt)
    assert(!allowed) // star block consulted because no allow/disallow in UA block
    assert(delay == 10000) // UA-specific delay survives the star pass
  }

  test("crawl-delay float seconds and comments") {
    val txt =
      """User-agent: *
        |Crawl-delay: .5
        |Disallow: /x # not a comment in value (disallow takes first token)
        |""".stripMargin
    val (allowed, delay) = eval("/x", txt)
    assert(!allowed && delay == 500)
    // an unparseable number leaves the delay unset
    val bad =
      """User-agent: *
        |Crawl-delay: 1.2.3
        |""".stripMargin
    assert(eval("/x", bad) == (true, -1))
  }

  test("disallow with no leading slash normalizes") {
    val txt =
      """User-agent: *
        |Disallow: secret
        |""".stripMargin
    assert(eval("/secret/x", txt)._1 == false)
    assert(eval("/open", txt)._1 == true)
  }

  test("empty disallow allows all") {
    val txt =
      """User-agent: *
        |Disallow:
        |""".stripMargin
    assert(eval("/anything", txt)._1 == true)
  }

  test("comments skipped; ua value comment trimmed") {
    val txt =
      """# global rules
        |User-agent: * # everyone
        |Disallow: /blocked
        |""".stripMargin
    assert(eval("/blocked", txt)._1 == false)
  }

  test("query string participates in matching (path includes cgi)") {
    val txt =
      """User-agent: *
        |Disallow: /page?print
        |""".stripMargin
    assert(eval("/page?print=1", txt)._1 == false)
    assert(eval("/page", txt)._1 == true)
  }

  test("last line without newline is processed") {
    val txt = "User-agent: *\nDisallow: /x"
    assert(eval("/x/y", txt)._1 == false)
  }

  test("case-insensitive fields and paths") {
    val txt = "USER-AGENT: *\r\nDISALLOW: /CaseD\r\n"
    assert(eval("/cased/x", txt)._1 == false)
  }

  test("multiple ua blocks for same agent accumulate") {
    val txt =
      """User-agent: *
        |Disallow: /a
        |
        |User-agent: *
        |Disallow: /b
        |""".stripMargin
    assert(eval("/a", txt)._1 == false)
    assert(eval("/b", txt)._1 == false)
    assert(eval("/c", txt)._1 == true)
  }
}
