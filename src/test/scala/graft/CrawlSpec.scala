package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.frontier._

/** End-to-end crawl correctness: determinism, crawl-order stability,
  * robots gating, media filtering, seen-set exactness, resume equivalence
  * (the reference's deterministic-replay pattern, Test.cpp:67-71). */
class CrawlSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private val spec = Corpus.micro
  private val cfg = Crawl.Config()

  private def tmpdir(): String = tmpdir("graftcrawl")

  private def fetchOrder(workdir: String, upTo: Int): Seq[(Int, Int, Int, String)] = {
    import spark.implicits._
    (1 to upTo).flatMap { i =>
      spark.read.parquet(s"${Crawl.snapDir(workdir, i)}/fetch_log")
        .select("iteration", "first_ip", "seq", "url")
        .as[(Int, Int, Int, String)]
        .collect()
        .sortBy(r => (r._1, r._2.toLong & 0xffffffffL, r._3))
    }
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** One default-config crawl through a compaction (snapshot 4), shared
    * as the reference side of the tests below. */
  private lazy val defaultRun: (String, Seq[Crawl.IterationResult]) = {
    val d = tmpdir()
    (d, Crawl.run(spark, d, spec, 5, cfg))
  }

  private def seenSet(workdir: String, i: Int): Set[Long] = {
    import spark.implicits._
    Crawl.loadRequests(spark, workdir, i)
      .select("uh48").as[Long].collect().toSet
  }

  test("crawl runs, discovers urls, and is deterministic across runs") {
    val d1 = tmpdir(); val d2 = tmpdir()
    val r1 = Crawl.run(spark, d1, spec, 4, cfg)
    val r2 = Crawl.run(spark, d2, spec, 4, cfg)
    assert(r1.map(_.scheduled) == r2.map(_.scheduled))
    assert(r1.map(_.fetched) == r2.map(_.fetched))
    assert(r1.map(_.newUrls) == r2.map(_.newUrls))
    assert(fetchOrder(d1, 4) == fetchOrder(d2, 4), "crawl order must be byte-deterministic")
    assert(seenSet(d1, 4) == seenSet(d2, 4), "seen set must be identical")
    assert(r1.head.scheduled == 3) // the three seeds
    assert(r1.map(_.newUrls).sum > 20)
  }

  test("media urls are never scheduled (ismedia delete row)") {
    val d = tmpdir()
    Crawl.run(spark, d, spec, 4, cfg)
    val order = fetchOrder(d, 4)
    assert(order.nonEmpty)
    assert(!order.exists(_._4.endsWith(".jpg")))
    // but the media url IS in the frontier as a request (delete happens at dole)
  }

  test("robots.txt gating: host 2 denies everything below root") {
    import spark.implicits._
    val d = tmpdir()
    Crawl.run(spark, d, spec, 5, cfg)
    val logs = (1 to 5).map(i => spark.read.parquet(s"${Crawl.snapDir(d, i)}/fetch_log"))
      .reduce(_ union _)
    val denied = logs.filter(col("err_code") === Errs.EDOCDISALLOWED)
      .select("url").as[String].collect()
    // host 1 (k%4==1) disallows /s1
    assert(denied.forall(u => u.contains("/s1") || u.startsWith("http://www.h2.test/")))
    val deniedHost1 = denied.filter(_.startsWith("http://www.h1.test/s1"))
    assert(deniedHost1.nonEmpty || denied.nonEmpty)
  }

  test("requests are unique per uh48+signature after compaction") {
    import spark.implicits._
    val d = tmpdir()
    Crawl.run(spark, d, spec, 4, cfg) // compactEvery=4 → snapshot 4 compacted
    val reqs = Crawl.loadRequests(spark, d, 4).toDF()
    val total = reqs.count()
    val distinctKeys = reqs.select("uh48", "site_hash32", "hop_count").distinct().count()
    assert(total == distinctKeys, s"compaction must dedup ($total vs $distinctKeys)")
  }

  test("resume from snapshot produces the identical continuation") {
    val dFull = tmpdir(); val dResume = tmpdir()
    Crawl.run(spark, dFull, spec, 6, cfg)
    Crawl.run(spark, dResume, spec, 3, cfg)
    // resume: picks up at latest snapshot automatically
    Crawl.run(spark, dResume, spec, 3, cfg)
    assert(fetchOrder(dFull, 6) == fetchOrder(dResume, 6), "resumed crawl must continue exactly")
    assert(seenSet(dFull, 6) == seenSet(dResume, 6))
  }

  test("politeness: same-IP fetches are spaced by the ip wait") {
    val d = tmpdir()
    Crawl.run(spark, d, spec, 4, cfg)
    // the per-IP last_download_end_ms must be monotonically consistent
    // with the per-iteration clock
    val ips = Crawl.loadLoopState(spark, d, 4, cfg).ipState.collect()
    assert(ips.nonEmpty)
    assert(ips.forall(_.last_download_end_ms > Crawl.nowMs(cfg, 0)))
  }

  test("every snapshot manifest carries the iteration's counters") {
    val d = tmpdir()
    val results = Crawl.run(spark, d, spec, 5, cfg)
    assert(results.map(_.robotsDenied).sum > 0 && results.map(_.errors).sum > 0,
      "the micro crawl must exercise both the robots and the error counters")
    results.zipWithIndex.foreach { case (r, k) =>
      val i = k + 1
      val m = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${Crawl.snapDir(d, i)}/MANIFEST.json")), "UTF-8")
      def field(name: String): Long =
        s""""$name":(-?\\d+)""".r.findFirstMatchIn(m).map(_.group(1).toLong)
          .getOrElse(fail(s"snapshot $i manifest has no $name: $m"))
      assert(field("iteration") == i)
      assert(Seq(field("scheduled"), field("fetched"), field("robots_denied"), field("errors"),
        field("new_urls")) == Seq(r.scheduled, r.fetched, r.robotsDenied, r.errors, r.newUrls),
        s"snapshot $i manifest $m vs $r")
      // how the iteration ran: micro batches run on the quiet session,
      // on one shuffle partition (batch and state are both far below
      // RowsPerPartition), and compile only the classes Spark generates
      // outside its codegen switches (the first iteration also those
      // that init and the previous crawls pushed out of Spark's
      // 100-entry class cache)
      assert(m.contains(""""quiet":true"""), s"snapshot $i manifest $m")
      assert(field("shuffle_partitions") == 1, s"snapshot $i manifest $m")
      // the state rows that size the partitions are the chains' rows,
      // read from the footers of deltas and compacted tables alike
      import Crawl.Tables
      assert(Tables.requests.chainRows(spark, d, i - 1) == Crawl.loadRequests(spark, d, i - 1).count())
      assert(Tables.replies.chainRows(spark, d, i - 1) == Crawl.loadReplies(spark, d, i - 1).count())
      assert(Tables.titledb.chainRows(spark, d, i - 1) >= Crawl.loadTitledb(spark, d, i - 1).count())
      assert(Crawl.stateRows(spark, d, i - 1) == Seq(Tables.requests, Tables.replies, Tables.titledb)
        .map(_.chainRows(spark, d, i - 1)).max)
      assert(field("codegen_compiles") >= 0 && (i == 1 || field("codegen_compiles") <= 50),
        s"snapshot $i manifest $m")
    }
  }

  test("a big frontier behind small batches keeps its quiet shuffle partitions") {
    import org.apache.spark.sql.GraftShim
    // one seed row more than a partition's worth: iteration 1 doles the
    // seeds, later iterations only a politeness-capped batch, yet their
    // joins against the requests chain still move every frontier row
    val per = GraftShim.RowsPerPartition
    val seeds = (0L to per).map(j => s"http://${Corpus.host((j % spec.nHosts).toInt)}/x/$j.html")
    val d = tmpdir()
    val results = Crawl.run(spark, d, spec, 3, cfg, compactEvery = 100, seedUrls = seeds)
    assert(results(1).scheduled < per, s"batches after the first must be small: $results")
    val m = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${Crawl.snapDir(d, 3)}/MANIFEST.json")), "UTF-8")
    assert(m.contains(""""quiet":true"""), m)
    // the chain holds the seeds and iteration 1's rewrite of them
    val state = Crawl.stateRows(spark, d, 2)
    val parts = math.min((state - 1) / per + 1, spark.conf.get("spark.sql.shuffle.partitions").toLong)
    assert(parts > 1, s"state rows $state")
    assert(m.contains(s""""shuffle_partitions":$parts"""), m)
  }

  test("a degraded bloom keeps admission exact (fetch logs and requests as with the default bloom)") {
    import spark.implicits._
    // one 64-bit bloom for every url: a bloom bucket sized for one
    // item at fpp 0.99 is one word with one hash
    val degraded = cfg.copy(bloomFpp = 0.99, seenBuckets = 1, expectedSeenPerBucket = 1L)
    val d = tmpdir()
    Crawl.run(spark, d, spec, 5, degraded) // compaction at snapshot 4
    val requests = Crawl.loadRequests(spark, d, 5)
    val known = requests.select("uh48").as[Long].collect().toSet
    val absent = (0 until 2000).iterator
      .flatMap(k => Crawl.seedRequest(s"http://absent$k.test/", 0L))
      .filterNot(r => known(r.uh48)).take(1000).toSeq
    assert(absent.size == 1000)
    val st = Crawl.loadLoopState(spark, d, 5, degraded)
    val positives = SeenBloom.tagged(absent.toDS(), st.bloom, degraded.seenBuckets)
      .filter(_._2).count()
    assert(positives > 500, s"the bloom must be degraded: $positives of 1000 absent uh48s positive")

    val (ref, _) = defaultRun
    assert(fetchOrder(d, 5) == fetchOrder(ref, 5), "crawl order")
    assert(sortedRows(requests.toDF()) == sortedRows(Crawl.loadRequests(spark, ref, 5).toDF()),
      "requests chain")
  }

  test("a batch holding a frame-bearing url under two first_ips fetches and answers each task once") {
    import spark.implicits._
    // a 40-day clock step makes the crawled roots due again, so the
    // reindex of host 2's root (the iframe fixture, under a fake IP
    // from its docid) shares iteration 5's batch with its own request
    val stepped = cfg.copy(clockStepMs = 40L * 86400L * 1000L)
    val d = tmpdir()
    Crawl.run(spark, d, spec, 4, stepped, compactEvery = 100)
    val root = s"http://${Corpus.host(2)}/"
    assert(Crawl.reindex(spark, d, Seq(root), stepped) == 1)
    val r5 = Crawl.run(spark, d, spec, 1, stepped, compactEvery = 100).head
    val log = spark.read.parquet(s"${Crawl.snapDir(d, 5)}/fetch_log")
      .select("first_ip", "url").as[(Int, String)].collect().toSeq
    assert(log.filter(_._2 == root).map(_._1).distinct.size == 2, s"the root's tasks: $log")
    assert(log.distinct.size == log.size, s"one fetch_log row per task: ${log.diff(log.distinct)}")
    assert(r5.scheduled == log.size, s"scheduled ${r5.scheduled} vs ${log.size} fetch_log rows")
    val replies = Crawl.loadReplies(spark, d, 5)
      .select("first_ip", "uh48", "spidered_time").as[(Int, Long, Long)].collect().toSeq
    assert(replies.distinct.size == replies.size, s"one reply per task: ${replies.diff(replies.distinct)}")
  }

  test("compaction is invisible: the same crawl at compactEvery 1, 4 and 100") {
    // a 40-day clock step makes every answered add-url seed's fake-IP
    // request and every crawled page due again within the run; an
    // answered fake-IP request must not be doled again before a
    // compaction drops it
    val stepped = cfg.copy(clockStepMs = 40L * 86400L * 1000L)
    val runs = Seq(1, 4, 100).map { every =>
      val d = tmpdir()
      val results = Crawl.run(spark, d, spec, 8, stepped, compactEvery = every)
      (every, results.map(_.scheduled), fetchOrder(d, 8), seenSet(d, 8))
    }
    val (_, scheduled, order, seen) = runs.head
    for ((every, s, o, u) <- runs.tail) {
      assert(s == scheduled, s"scheduled per iteration at compactEvery $every: $s vs $scheduled at 1")
      assert(o == order, s"fetch_log at compactEvery $every differs from compactEvery 1")
      assert(u == seen, s"seen set at compactEvery $every differs from compactEvery 1")
    }
  }

  test("A8 overflow guard: over-cap IPs admit no outlinks") {
    import spark.implicits._
    val capped = cfg.copy(overflowCap = 2L)
    val d = tmpdir()
    val results = Crawl.run(spark, d, spec, 4, capped, compactEvery = 100)
    val (_, ref) = defaultRun
    assert(results.map(_.newUrls).sum < ref.take(4).map(_.newUrls).sum,
      s"the guard must fire: ${results.map(_.newUrls)} vs uncapped ${ref.take(4).map(_.newUrls)}")
    for (i <- 1 to 4) {
      val over = Crawl.loadLoopState(spark, d, i - 1, capped).ipCounts.filter(col("n") > capped.overflowCap)
        .select("first_ip").as[Int].collect().toSet
      // iteration i's admitted rows: the requests chain's growth
      val outlinks = Crawl.loadRequests(spark, d, i).toDF().except(Crawl.loadRequests(spark, d, i - 1).toDF())
        .filter(col("flags").bitwiseAND(lit(Flags.IsAddUrl)) === 0L)
        .select("first_ip").as[Int].collect()
      val leaked = outlinks.filter(over)
      assert(leaked.isEmpty, s"snapshot $i: ${leaked.length} outlinks admitted on over-cap IPs")
    }
  }

  test("extracted text matches the pages table golden text byte-for-byte") {
    import spark.implicits._
    val pages = Corpus.pages(spark, spec)
    val mismatches = pages.map { p =>
      val got = graft.core.GbXml.extractText(p.html)
      if (got == p.text) 0 else 1
    }.reduce(_ + _)
    assert(mismatches == 0)
  }
}
