package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.frontier._

/** Resume integrity for the async write chain (the executable form of
  * the manifest-gating argument, SURVEY §2.3 J6 note): the MANIFEST is
  * the snapshot's commit point — `latestSnapshot` counts only
  * manifested snapshots — so a crash anywhere between the fetch_log
  * write and the manifest leaves a PARTIAL snapshot that the resume
  * simply re-runs from snapshot i-1 state. Because the iteration is
  * deterministic and every write is whole-directory overwrite, the
  * re-run must reproduce the crashed iteration byte-identically; no
  * reader ever resolves chains through an unmanifested snapshot's
  * leftovers (loads are keyed at i-1).
  *
  * The reference's analogue: spiderdb adds are Msg4-logged and replayed
  * after a crash; doledb is rebuilt from spiderdb (Spider.cpp doledb
  * rebuild on startup), so a partially-doled batch is re-doled. */
class ResumeIntegritySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val spec = Corpus.micro
  private val cfg = Crawl.Config()

  private def tmpdir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graftresume").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def rmrf(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    p.delete(); ()
  }

  private def fetchOrder(workdir: String, upTo: Int): Seq[(Int, Int, Int, String, Int)] = {
    import spark.implicits._
    (1 to upTo).flatMap { i =>
      spark.read.parquet(s"${Crawl.snapDir(workdir, i)}/fetch_log")
        .select("iteration", "first_ip", "seq", "url", "err_code")
        .as[(Int, Int, Int, String, Int)]
        .collect()
        .sortBy(r => (r._1, r._2.toLong & 0xffffffffL, r._3))
    }
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("crash between fetch_log and manifest: the re-run continuation is byte-identical") {
    val a = tmpdir(); val b = tmpdir()
    // reference run: 4 iterations straight through (compaction at 4)
    Crawl.run(spark, a, spec, 4, cfg)
    // crash run: 3 iterations, then simulate a crash mid-iteration-3
    // commit — fetch_log and SOME writes landed, the manifest did not
    Crawl.run(spark, b, spec, 3, cfg)
    val d3 = Crawl.snapDir(b, 3)
    assert(new java.io.File(s"$d3/MANIFEST.json").exists)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$d3/MANIFEST.json"))
    // partial-write mix: these tables "never made it" before the crash
    // (the concurrent write batch has no ordering guarantee), the rest
    // (fetch_log, requests_delta, titledb_delta, ...) did
    Seq("replies_delta", "tag_state", "inlink_state", "seen_bloom", "ip_table")
      .foreach(n => rmrf(new java.io.File(s"$d3/$n")))
    assert(Crawl.latestSnapshot(b).contains(2), "manifest is the commit point")
    // resume: re-runs iteration 3 over snapshot-2 state, then runs 4
    Crawl.run(spark, b, spec, 2, cfg)

    assert(fetchOrder(b, 4) == fetchOrder(a, 4),
      "re-run crawl order (incl. the crashed iteration's fetch_log) must be byte-identical")
    assert(sortedRows(Crawl.loadRequests(spark, b, 4).toDF()) ==
      sortedRows(Crawl.loadRequests(spark, a, 4).toDF()), "requests chain")
    assert(sortedRows(Crawl.loadReplies(spark, b, 4).toDF()) ==
      sortedRows(Crawl.loadReplies(spark, a, 4).toDF()), "replies chain")
    assert(sortedRows(Crawl.loadTitledb(spark, b, 4).toDF()
        .select("uh48", "url", "http_status", "content_hash32")) ==
      sortedRows(Crawl.loadTitledb(spark, a, 4).toDF()
        .select("uh48", "url", "http_status", "content_hash32")), "titledb")
    assert(sortedRows(Crawl.loadTagState(spark, b, 4).toDF()) ==
      sortedRows(Crawl.loadTagState(spark, a, 4).toDF()), "tag_state chain")
    assert(sortedRows(Crawl.loadQuotaState(spark, b, 4)) ==
      sortedRows(Crawl.loadQuotaState(spark, a, 4)), "quota chain")
    assert(sortedRows(Crawl.loadIpState(spark, b, 4).toDF()) ==
      sortedRows(Crawl.loadIpState(spark, a, 4).toDF()), "per-IP politeness state")
    assert(sortedRows(Crawl.loadIpCounts(spark, b, 4)) ==
      sortedRows(Crawl.loadIpCounts(spark, a, 4)), "per-IP counts")
    assert(Crawl.loadIpNext(spark, b, 4, cfg).map(sortedRows) ==
      Crawl.loadIpNext(spark, a, 4, cfg).map(sortedRows), "per-IP waiting tree")
    assert(sortedRows(Crawl.loadTitleVecs(spark, b, 4)) ==
      sortedRows(Crawl.loadTitleVecs(spark, a, 4)), "titledb-derived vectors")
    import org.apache.spark.sql.functions.col
    val seenB = Crawl.loadRequests(spark, b, 4).select(col("uh48")).distinct()
    assert(sortedRows(seenB) == sortedRows(
      Crawl.loadRequests(spark, a, 4).select(col("uh48")).distinct()), "seen set")
    // the keyed chains not compared above, loaded through their own
    // resolvers
    def chain(w: String, t: Crawl.KeyedTable) = sortedRows(t.load(spark, w, 4))
    Seq(Crawl.Keyed.dom, Crawl.Keyed.inlinks).foreach { t =>
      assert(chain(b, t) == chain(a, t), s"${t.name} chain")
    }
    // the seen bloom, bucket by bucket
    def bloom(w: String) = sortedRows(Crawl.loadLoopState(spark, w, 4, cfg).bloom
      .select(col("bloom_bucket"), org.apache.spark.sql.functions.sha2(col("bloom"), 256)))
    assert(bloom(b) == bloom(a), "seen bloom")
  }
}
