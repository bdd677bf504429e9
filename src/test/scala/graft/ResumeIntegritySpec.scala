package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.frontier._

/** Resume integrity for the async write chain (the executable form of
  * the manifest-gating argument, SURVEY §2.3 J6 note): the MANIFEST is
  * the snapshot's commit point — `latestSnapshot` counts only
  * manifested snapshots — so a crash anywhere between the fetch_log
  * write and the manifest leaves a PARTIAL snapshot that the resume
  * simply re-runs from snapshot i-1 state. Because the iteration is
  * deterministic and the re-run first deletes the crashed try's
  * leftovers, it must reproduce the iteration byte-identically; no
  * reader ever resolves chains through an unmanifested snapshot's
  * leftovers (loads are keyed at i-1). Compaction's swap takes the
  * manifest away while it deletes committed parts, so a crash inside
  * it is the same case.
  *
  * The reference's analogue: spiderdb adds are Msg4-logged and replayed
  * after a crash; doledb is rebuilt from spiderdb (Spider.cpp doledb
  * rebuild on startup), so a partially-doled batch is re-doled. */
class ResumeIntegritySpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private val spec = Corpus.micro
  private val cfg = Crawl.Config()

  private def tmpdir(): String = tmpdir("graftresume")

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

  /** Every table of snapshot i, as sorted rows, named. */
  private def tables(w: String, i: Int): Seq[(String, Seq[String])] = {
    import org.apache.spark.sql.functions.{col, sha2}
    val st = Crawl.loadLoopState(spark, w, i, cfg)
    Seq(
      "requests chain" -> sortedRows(st.requests.toDF()),
      "replies chain" -> sortedRows(st.replies.toDF()),
      "titledb" -> sortedRows(Crawl.loadTitledb(spark, w, i).toDF()
        .select("uh48", "url", "http_status", "content_hash32")),
      "tag_state chain" -> sortedRows(st.tagState.toDF()),
      "quota chain" -> sortedRows(st.quotaState),
      "per-IP politeness state" -> sortedRows(st.ipState.toDF()),
      "per-IP counts" -> sortedRows(st.ipCounts),
      "per-IP waiting tree" -> st.ipNext.map(sortedRows).getOrElse(Seq("<not maintained>")),
      "titledb-derived vectors" -> sortedRows(st.titleVecs),
      "seen set" -> sortedRows(st.seenUh48),
      "dom_state chain" -> sortedRows(st.domState.toDF()),
      "inlink_state chain" -> sortedRows(st.inlinks.toDF()),
      // the seen bloom, bucket by bucket
      "seen bloom" -> sortedRows(st.bloom.select(col("bloom_bucket"), sha2(col("bloom"), 256))))
  }

  private def assertSameTables(got: String, want: String, i: Int): Unit =
    tables(got, i).zip(tables(want, i)).foreach { case ((name, g), (_, w)) =>
      assert(g == w, s"snapshot $i: $name")
    }

  private def manifestField(w: String, i: Int, key: String): String = {
    val m = java.nio.file.Files.readString(java.nio.file.Paths.get(Crawl.snapDir(w, i), "MANIFEST.json"))
    s""""$key":([^,}]*)""".r.findFirstMatchIn(m).map(_.group(1)).getOrElse(s"<no $key>")
  }

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
    // (fetch_log, requests, titledb, ...) did
    Seq("replies", "tag_state", "inlink_state", "seen_bloom", "ip_table")
      .foreach(n => Dirs.deleteTree(java.nio.file.Paths.get(s"$d3/$n")))
    assert(Crawl.latestSnapshot(b).contains(2), "manifest is the commit point")
    // resume: re-runs iteration 3 over snapshot-2 state, then runs 4
    Crawl.run(spark, b, spec, 2, cfg)

    assert(fetchOrder(b, 4) == fetchOrder(a, 4),
      "re-run crawl order (incl. the crashed iteration's fetch_log) must be byte-identical")
    assertSameTables(b, a, 4)
  }

  test("crash inside compaction's swap: the resume re-runs the iteration and compacts it again") {
    val a = tmpdir(); val b = tmpdir()
    // reference run: 5 iterations straight through (compaction at 4)
    Crawl.run(spark, a, spec, 5, cfg)
    // crash run: snapshot 4 committed, then its compaction wrote every
    // full table and crashed after swapping in the first two
    Crawl.run(spark, b, spec, 4, cfg, compactEvery = 100)
    Crawl.compactWrite(spark, b, 4, cfg)
    val d4 = Crawl.snapDir(b, 4)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$d4/MANIFEST.json"))
    Crawl.Tables.all.take(2).foreach(t => StateTable.swap(d4, t.name))
    assert(Crawl.latestSnapshot(b).contains(3), "a snapshot inside its swap is not committed")
    // resume: re-runs iteration 4 over snapshot-3 state, compacts it,
    // then runs 5
    Crawl.run(spark, b, spec, 2, cfg)

    assert(fetchOrder(b, 5) == fetchOrder(a, 5), "crawl order after the resume")
    assertSameTables(b, a, 4)
    assertSameTables(b, a, 5)
  }

  test("crash after commit, before compaction: the resume compacts the snapshot first") {
    val a = tmpdir(); val b = tmpdir()
    // reference run: 6 iterations straight through (compaction at 4)
    Crawl.run(spark, a, spec, 6, cfg, compactEvery = 4)
    // crash run: snapshot 4 committed, its compaction never ran
    Crawl.run(spark, b, spec, 4, cfg, compactEvery = 100)
    val full4 = new java.io.File(s"${Crawl.snapDir(b, 4)}/${Crawl.Tables.requests.name}/_GRAFT_FULL")
    assert(!full4.exists, "snapshot 4 is not compacted")
    Crawl.run(spark, b, spec, 2, cfg, compactEvery = 4)

    assert(full4.exists, "the resume compacts snapshot 4")
    assert(fetchOrder(b, 6) == fetchOrder(a, 6), "crawl order after the resume")
    (4 to 6).foreach(i => assertSameTables(b, a, i))
    // the first resumed iteration runs on the session the straight run
    // chose for it, from snapshot 4's scheduled count
    Seq("quiet", "shuffle_partitions").foreach(k =>
      assert(manifestField(b, 5, k) == manifestField(a, 5, k), s"snapshot 5's $k"))
  }
}
