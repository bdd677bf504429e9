package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.frontier._

class SeenBloomSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def req(uh: Long) = FrontierRequest(uh, (uh % 100).toInt + 1, s"http://h$uh.test/",
    0, 0, 0, -1, 1400000000L, 1400000000L, 1, "", 0L, 0, 0L)

  test("partitioned bloom: no false negatives, incremental update, bucket locality") {
    import spark.implicits._
    val buckets = 16
    val seen = (0L until 5000L).map(_ * 7919L)
    val table = SeenBloom.build(spark.createDataset(seen.map(java.lang.Long.valueOf)), buckets, 1000L, 0.03)
    assert(table.count() <= buckets)
    // every seen key must be bloom-positive (no false negatives, ever)
    val cands = spark.createDataset(seen.take(1000).map(req))
    val taggedSeen = SeenBloom.tagged(cands, table, buckets).collect()
    assert(taggedSeen.forall(_._2), "bloom false negative")
    // incremental update covers new keys without touching others
    val freshKeys = (1L to 500L).map(k => java.lang.Long.valueOf(k * 104729L + 3L))
    val updated = SeenBloom.update(table, spark.createDataset(freshKeys), buckets, 1000L, 0.03)
    val cands2 = spark.createDataset(freshKeys.map(k => req(k.longValue())))
    assert(SeenBloom.tagged(cands2, updated, buckets).collect().forall(_._2))
    // unseen keys are mostly negative (fpp-bounded)
    val unseen = spark.createDataset((1L to 2000L).map(k => req(k * 999983L + 17L)))
    val fpCount = SeenBloom.tagged(unseen, updated, buckets).collect().count(_._2)
    assert(fpCount < 300, s"fp rate too high: $fpCount/2000")
  }

  test("Config.seenBuckets must be a positive power of two") {
    Seq(1, 8, 64).foreach(n => assert(Crawl.Config(seenBuckets = n).seenBuckets == n))
    Seq(0, -8, 10, 12).foreach(n => intercept[IllegalArgumentException](Crawl.Config(seenBuckets = n)))
    // why: bucketOf masks uh48 with buckets - 1, so 10 buckets would fill
    // only 0, 1, 8 and 9
    assert((0L until 1024L).map(SeenBloom.bucketOf(_, 10)).toSet == Set(0, 1, 8, 9))
  }

  test("a bloom is sized for its expected items, however few") {
    import spark.implicits._
    def bytes(expected: Long): Long = SeenBloom.build(spark.createDataset(Seq(java.lang.Long.valueOf(1L))),
      1, expected, 0.03).select(org.apache.spark.sql.functions.length($"bloom")).as[Int].head().toLong
    assert(bytes(10L) < bytes(1000L), s"${bytes(10L)} vs ${bytes(1000L)} bytes")
    intercept[IllegalArgumentException](SeenBloom.build(spark.emptyDataset[java.lang.Long], 1, 0L, 0.03))
  }
}
