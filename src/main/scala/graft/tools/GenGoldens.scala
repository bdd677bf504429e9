package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.core._
import graft.frontier._
import graft.rules._

/** Generates the committed golden files (FIXTURES.md §5 — the reference's
  * crctable.dat pattern, qa.cpp:234-262): once generated and reviewed,
  * the goldens pin crawl order, seen set, hashes, canonicalization,
  * robots verdicts, and extracted text across future code changes.
  * Run: `sbt "runMain graft.tools.GenGoldens"` (rewrites
  * src/test/resources/golden/). */
object GenGoldens {
  def main(args: Array[String]): Unit = {
    val outDir = "src/test/resources/golden"
    // crawl-pipeline goldens live on the MAIN classpath: SparkEntry
    // builds driver-visible DuckDB VALUES oracles from them
    val mainDir = "src/main/resources/graft/golden"
    Files.createDirectories(Paths.get(outDir))
    Files.createDirectories(Paths.get(mainDir))
    def write(name: String, lines: Seq[String]): Unit = {
      Files.writeString(Paths.get(s"$outDir/$name"), lines.mkString("", "\n", "\n"))
      println(s"wrote $name (${lines.size} lines)")
    }
    def writeMain(name: String, lines: Seq[String]): Unit = {
      Files.writeString(Paths.get(s"$mainDir/$name"), lines.mkString("", "\n", "\n"))
      println(s"wrote $name (${lines.size} lines) [main resources]")
    }

    // uh48.tsv — tabulation-hash port incl. table derivation
    val urls = (0 until 16).flatMap { k =>
      Seq(s"http://www.h$k.test/", s"http://www.h$k.test/s1/", s"http://www.h$k.test/s1/leaf0.html")
    }
    write("uh48.tsv", urls.map(u => s"$u\t${GbHash.uh48(u)}\t${GbHash.hash32(GbUrl.parse(u).host)}"))

    // canon.tsv — Url::set port
    val raws = Seq(
      "WWW.Example.COM/a/../b//c.html#frag",
      "http://http://www.foo.com/index.html",
      "https://News.Ycombinator.com:443/item?id=1&&x=2",
      "http://www.h0.test\\p\\q.jpg",
      "http://sub.domain.co.uk/path/./x/",
      "http://1.2.3.4:8080/ip",
      "http://a.com/p?x=1&&&y=2",
      "http://a.com./x",
      "  \t http://a.com/ws",
      "http://a.com/p#frag",
      "http://a.com/p#!bang",
      "http://a.com/p?q=1#frag",
      "ftp://files.example.com:21/pub",
      "http://bücher.example/straße")
    write("canon.tsv", raws.map { r =>
      val g = GbUrl.parse(r)
      s"${r.replace("\t", "\\t")}\t${g.url}\t${g.domain}\t${g.tld}\t${g.port}"
    })

    // robots.tsv — isAllowed2 quirks
    val robotsBody =
      ("User-agent: Gigablast\nCrawl-delay: 2.5\n\n" +
        "User-agent: *\nDisallow: /priv\nAllow: /priv/ok.html\nCrawl-delay: .5\nDisallow: sub\n").getBytes("UTF-8")
    val paths = Seq("/", "/priv", "/priv/ok.html", "/privateer", "/sub/x", "/pub", "/x?sub=1")
    write("robots.tsv", paths.map { p =>
      val (a, d) = Robots.evaluate(p, robotsBody)
      s"$p\t$a\t$d"
    })

    // ufn.tsv — url-filter first-match over a scenario matrix
    val now = 1400003600L
    val scenarios = for {
      hop <- Seq(0, 1, 2, 3)
      hadReply <- Seq(false, true)
      www <- Seq(false, true)
      media <- Seq(false, true)
    } yield {
      val host = if (www) "www.a.com" else "a.com"
      val url = if (media) s"http://$host/h$hop.jpg" else if (hop == 0) s"http://$host/" else s"http://$host/h$hop"
      val req = UfnRequest(url = url, hopCount = hop, hadReply = hadReply, hasMediaExtension = media, addedTime = now - 5000)
      val rep = if (hadReply) Some(UfnReply(spideredTime = now - 1000)) else None
      val n = UrlFilters.urlFilterNum(req, rep, now)
      val pri = if (n >= 0) UrlFilters.defaultWebRules(n).priority else -1
      s"$url\t$hop\t$hadReply\t$media\t$n\t$pri"
    }
    write("ufn.tsv", scenarios)

    // NOTE: extracted-text goldens (ref_text.tsv) are generated by
    // GenRefCorpus from the REFERENCE parser binary, never from GbXml —
    // see refharness/. This tool only pins engine-internal determinism.

    // crawl order + seen set: 8 iterations on the micro corpus
    // (seeds take the EFAKEFIRSTIP DNS hop at iter 1; host 5 reaches its
    // hop-2 feed2 at ~iter 4, its forced-hop items at ~iter 5)
    val spec = Corpus.micro
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val work = graft.Dirs.temp("graft_golden")
    Crawl.run(spark, work, spec, 8)
    val order = (1 to 8).flatMap { i =>
      spark.read.parquet(s"${Crawl.snapDir(work, i)}/fetch_log")
        .select("iteration", "first_ip", "seq", "url", "priority", "err_code")
        .as[(Int, Int, Int, String, Int, Int)].collect()
        .sortBy(r => (r._1, r._2.toLong & 0xffffffffL, r._3))
    }
    writeMain("crawl_order.tsv", order.map(r => s"${r._1}\t${r._2}\t${r._3}\t${r._4}\t${r._5}\t${r._6}"))
    val seen = Crawl.loadRequests(spark, work, 8).select("uh48").as[Long].collect().sorted
    writeMain("seen_set.tsv", seen.map(_.toString))
    val tdb = Crawl.loadTitledb(spark, work, 8).collect()
      .map(t => (t.uh48, t.url, t.http_status, t.content_hash32)).sortBy(_._1)
    writeMain("titledb.tsv", tdb.map(t => s"${t._1}\t${t._2}\t${t._3}\t${t._4}"))
    val st = Crawl.loadLoopState(spark, work, 8, Crawl.Config())
    val inl = st.inlinks.collect()
      .map(s => (s.first_ip.toLong & 0xffffffffL, s.uh48, s.cblocks.length)).sortBy(x => (x._1, x._2))
    writeMain("inlink_counts.tsv", inl.map(x => s"${x._1.toInt}\t${x._2}\t${x._3}"))
    val tags = st.tagState.collect()
      .map(t => (t.site, t.first_ip, if (t.has_site_tag) 1 else 0, t.cblocks.length))
      .sortBy(t => (t._1, t._2))
    writeMain("site_tags.tsv", tags.map(t => s"${t._1}\t${t._2}\t${t._3}\t${t._4}"))

    val quo = st.quotaState
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    writeMain("quota_state.tsv", quo.map(x => s"${x._1}\t${x._2}"))

    // pcd: reindex mutating-host urls, run iteration 9 against the
    // rev-1 corpus — replies carry real percentChangedPerDay (the page
    // sample vectors of rev 0 and rev 1 overlap partially)
    Crawl.reindex(spark, work, Corpus.pcdReindexUrls, Crawl.Config())
    Crawl.runIteration(spark, work, 9, Corpus.pages(spark, spec, 1),
      Corpus.robots(spark, spec), Corpus.hostMeta(spark, spec), Crawl.Config(),
      Crawl.redirectClosure(Corpus.redirects(spark, spec)))
    val pcdUhs = Corpus.pcdReindexUrls.map(u => GbUrl.parse(u).uh48).toSet
    val pcd = Crawl.loadReplies(spark, work, 9).collect()
      .filter(r => r.spidered_time == Crawl.nowSecs(Crawl.Config(), 9) && pcdUhs(r.uh48))
      .map(r => (r.uh48, (r.percent_changed_per_day * 1000000f).toLong)).sortBy(_._1)
    writeMain("pcd.tsv", pcd.map(x => s"${x._1}\t${x._2}"))
    spark.stop()
  }
}
