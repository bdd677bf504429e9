package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.frontier._
import graft.rules._

/** Replay against the committed golden files (the reference's
  * crctable.dat pattern, qa.cpp:234-262): any semantic drift in hashing,
  * canonicalization, robots, url-filters, extraction, crawl order, or the
  * seen set fails here even if the dynamic determinism tests still pass. */
class GoldenSpec extends AnyFunSuite with TempDirs {

  private def golden(name: String): Seq[String] = {
    // crawl-pipeline goldens moved to the main classpath (/graft/golden)
    // so SparkEntry can build DuckDB VALUES oracles from them
    val in = Option(getClass.getResourceAsStream(s"/golden/$name"))
      .getOrElse(getClass.getResourceAsStream(s"/graft/golden/$name"))
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  test("uh48 + host hash golden") {
    golden("uh48.tsv").foreach { line =>
      val Array(u, uh, h32) = line.split('\t')
      assert(GbHash.uh48(u) == uh.toLong, u)
      assert(GbHash.hash32(GbUrl.parse(u).host) == h32.toInt, u)
    }
  }

  test("canonicalization golden") {
    golden("canon.tsv").foreach { line =>
      val f = line.split('\t')
      val raw = f(0).replace("\\t", "\t")
      val g = GbUrl.parse(raw)
      assert(g.url == f(1), raw)
      assert(g.domain == f(2), raw)
      assert(g.tld == f(3), raw)
      assert(g.port == f(4).toInt, raw)
    }
  }

  test("robots golden") {
    val body =
      ("User-agent: Gigablast\nCrawl-delay: 2.5\n\n" +
        "User-agent: *\nDisallow: /priv\nAllow: /priv/ok.html\nCrawl-delay: .5\nDisallow: sub\n").getBytes("UTF-8")
    golden("robots.tsv").foreach { line =>
      val Array(p, a, d) = line.split('\t')
      val (allowed, delay) = Robots.evaluate(p, body)
      assert(allowed == a.toBoolean, p)
      assert(delay == d.toInt, p)
    }
  }

  test("url-filter golden") {
    val now = 1400003600L
    golden("ufn.tsv").foreach { line =>
      val f = line.split('\t')
      val req = UfnRequest(url = f(0), hopCount = f(1).toInt, hadReply = f(2).toBoolean,
        hasMediaExtension = f(3).toBoolean, addedTime = now - 5000)
      val rep = if (f(2).toBoolean) Some(UfnReply(spideredTime = now - 1000)) else None
      val n = UrlFilters.urlFilterNum(req, rep, now)
      assert(n == f(4).toInt, line)
      val pri = if (n >= 0) UrlFilters.defaultWebRules(n).priority else -1
      assert(pri == f(5).toInt, line)
    }
  }

  test("extracted-text golden — REFERENCE-derived (ref_text.tsv, full bytes)") {
    // expected values computed by the reference parser itself via
    // refharness (see GenRefCorpus) — non-circular by construction
    def unescape(s: String): String = {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 't' => sb.append('\t'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case other => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    golden("ref_text.tsv").foreach { line =>
      val f = line.split('\t').padTo(5, "")
      val spec = if (f(0) == "micro") Corpus.micro else Corpus.bench
      val (k, p, url) = (f(1).toInt, f(2).toInt, f(3))
      assert(Corpus.pageUrl(k, p, spec) == url, line.take(80))
      val expected = unescape(f(4))
      val actual = GbXml.extractText(Corpus.pageBytes(k, p, spec))
      assert(actual == expected, s"extraction diverges from reference for $url")
    }
  }

  test("crawl order + seen set golden (8 iterations, micro corpus)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val work = tmpdir("graft_goldenspec")
    Crawl.run(spark, work, Corpus.micro, 8)
    val got = (1 to 8).flatMap { i =>
      spark.read.parquet(s"${Crawl.snapDir(work, i)}/fetch_log")
        .select("iteration", "first_ip", "seq", "url", "priority", "err_code")
        .as[(Int, Int, Int, String, Int, Int)].collect()
        .sortBy(r => (r._1, r._2.toLong & 0xffffffffL, r._3))
    }.map(r => s"${r._1}\t${r._2}\t${r._3}\t${r._4}\t${r._5}\t${r._6}")
    assert(got == golden("crawl_order.tsv"), "crawl order drifted from golden")
    val seen = Crawl.loadRequests(spark, work, 8).select("uh48").as[Long].collect().sorted.map(_.toString).toSeq
    assert(seen == golden("seen_set.tsv"), "seen set drifted from golden")
  }
}
