package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.frontier._

/** Per-IP invariants checked against independent recomputations from
  * the requests chain, at every snapshot of a crawl that runs through
  * an injection and a compaction:
  *  (a) the per-IP table's counts equal the requests grouped by first_ip;
  *  (b) the loop state's seen set is the requests' uh48 set with no
  *      duplicate rows — the requests hold a seed's uh48 twice (under
  *      its fake and its real IP) until compaction drops the answered
  *      fake-IP row;
  *  (c) due-IP pruning is exact (A3): the batch scheduled with the
  *      waiting tree equals the one scheduled by a full scan;
  *  (d) the seen bloom is a superset of the requests: every request
  *      uh48 is bloom-positive. */
class IpTableSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private val cfg = Crawl.Config()

  private def batchRows(so: Crawl.ScheduleOut): Seq[String] =
    so.dole.filter(col("seq_in_ip") >= 0).collect().map(_.toString).sorted.toSeq

  private def uh48s(df: DataFrame): Set[Long] =
    df.select("uh48").collect().map(_.getLong(0)).toSet

  test("per-IP counts, seen set and due-IP pruning follow the requests chain") {
    import spark.implicits._
    val work = tmpdir("graft_iptable")
    Crawl.run(spark, work, Corpus.micro, 2, cfg)
    val n = Crawl.inject(spark, work,
      Seq("http://www.h7.test/injected.html", "http://www.h0.test/"), cfg)
    assert(n == 1, "only the new url is injected")
    Crawl.run(spark, work, Corpus.micro, 3, cfg) // compaction at snapshot 4
    var repeatedUh48s = 0L
    for (i <- 0 to 5) {
      val reqs = Crawl.loadRequests(spark, work, i)
      val counts = Crawl.loadIpCounts(spark, work, i).as[(Int, Long)].collect().toMap
      val expected = reqs.groupBy("first_ip").count().as[(Int, Long)].collect().toMap
      assert(counts == expected, s"snapshot $i: per-IP counts")

      val st = Crawl.loadLoopState(spark, work, i, cfg)
      val seen = st.seenUh48.select("uh48").collect().map(_.getLong(0))
      assert(seen.length == seen.distinct.length,
        s"snapshot $i: ${seen.length - seen.distinct.length} duplicate seen-set rows")
      assert(seen.toSet == uh48s(reqs.toDF()), s"snapshot $i: seen set")
      repeatedUh48s += reqs.count() - seen.length

      assert(st.ipNext.isDefined, s"snapshot $i: waiting tree maintained")
      def sched(ipNext: Option[DataFrame]) = batchRows(Crawl.scheduleWake(st.requests,
        st.replies, st.ipState, st.domState, cfg, i + 1, st.inlinks, st.quotaState, ipNext))
      assert(sched(st.ipNext) == sched(None), s"snapshot $i: due-IP pruning is exact")

      val negatives = SeenBloom.tagged(reqs, st.bloom, cfg.seenBuckets).filter(!_._2).count()
      assert(negatives == 0, s"snapshot $i: $negatives request uh48s are bloom-negative")
    }
    assert(repeatedUh48s > 0, "some snapshot's requests hold a uh48 twice")
  }
}
