package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame
import graft.frontier.{Crawl, StateTable}

/** O(delta) state chains: bucketed full/delta writes, newest-bucket-wins
  * loads, touched-bucket collection.
  * Delta-merge ≡ full-merge over a real crawl is pinned separately by
  * the committed crawl goldens (CrawlSpec runs the whole loop through
  * the delta path). */
class StateTableSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private val B = 8

  private def kv(rows: (Int, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("key", "n")
  }

  private def keys(df: DataFrame) = Seq(df("key"))

  private def tmpdir(): String = tmpdir("statetbl")

  /** A delta's touched bucket ids, one table at a time. */
  private def touchedBuckets(delta: DataFrame): Set[Int] =
    delta.select(StateTable.bucketCol(keys(delta), B)).distinct()
      .collect().map(_.getInt(0)).toSet

  private def loadAll(dir: String, i: Int): Map[Int, Long] =
    StateTable.load(spark, dir, i, "t", kv())
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("full write then delta writes: newest bucket version wins") {
    val w = tmpdir()
    StateTable.writeFull(kv(1 -> 10L, 2 -> 20L, 3 -> 30L), Seq(col("key")), B,
      s"${Crawl.snapDir(w, 0)}/t")
    // iteration 1 touches key 1's bucket: rewrite it merged
    val d1 = kv(1 -> 11L)
    val touched = StateTable.touchedBucketsMulti(Seq((d1, keys _, B))).head
    assert(touched == touchedBuckets(d1))
    // the merge path's prior: the touched buckets' rows of the full table
    val prior = StateTable.load(spark, w, 0, "t", kv())
      .filter(StateTable.bucketCol(Seq(col("key")), B).isInCollection(touched))
    assert(prior.collect().map(_.getInt(0)).toSet.contains(1))
    val merged = prior.unionByName(d1).groupBy("key").agg(max("n").as("n"))
    StateTable.writeDelta(merged, Seq(col("key")), B, s"${Crawl.snapDir(w, 1)}/t")
    val got = loadAll(w, 1)
    assert(got(1) == 11L && got(2) == 20L && got(3) == 30L && got.size == 3)
  }

  test("empty delta contributes nothing and does not stop the walk") {
    val w = tmpdir()
    StateTable.writeFull(kv(1 -> 1L), Seq(col("key")), B, s"${Crawl.snapDir(w, 0)}/t")
    StateTable.writeDelta(kv(), Seq(col("key")), B, s"${Crawl.snapDir(w, 1)}/t")
    assert(loadAll(w, 1) == Map(1 -> 1L))
  }

  test("empty full write (init) loads as empty and terminates the chain") {
    val w = tmpdir()
    StateTable.writeFull(kv(), Seq(col("key")), B, s"${Crawl.snapDir(w, 0)}/t")
    assert(loadAll(w, 0).isEmpty)
    StateTable.writeDelta(kv(7 -> 70L), Seq(col("key")), B, s"${Crawl.snapDir(w, 1)}/t")
    assert(loadAll(w, 1) == Map(7 -> 70L))
  }

  test("a full write mid-chain stops the walk (compaction reset)") {
    val w = tmpdir()
    StateTable.writeFull(kv(1 -> 1L, 9 -> 9L), Seq(col("key")), B, s"${Crawl.snapDir(w, 0)}/t")
    // compaction at snap 2 drops key 9 entirely
    StateTable.writeFull(kv(1 -> 2L), Seq(col("key")), B, s"${Crawl.snapDir(w, 2)}/t")
    assert(loadAll(w, 2) == Map(1 -> 2L), "key 9 must not leak from snap 0")
  }

  test("a chain with no full write fails with the table's name") {
    val w = tmpdir()
    StateTable.writeDelta(kv(1 -> 1L), Seq(col("key")), B, s"${Crawl.snapDir(w, 1)}/t")
    val e = intercept[RuntimeException](StateTable.bucketsOf(w, 1, "t"))
    assert(e.getMessage.contains("state table t"), e.getMessage)
  }

  test("touchedBucketsMulti ≡ per-table touchedBuckets, in one job") {
    val a = kv(1 -> 1L, 2 -> 2L, 33 -> 3L)
    val b = kv(5 -> 5L)
    val c = kv() // empty delta → no touched buckets
    val parts = Seq[(DataFrame, DataFrame => Seq[org.apache.spark.sql.Column], Int)](
      (a, keys, B), (b, keys, B), (c, keys, B), (a, keys, 1))
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val got = try {
      val r = StateTable.touchedBucketsMulti(parts)
      // listener events are posted asynchronously
      org.apache.spark.sql.GraftShim.waitListeners(spark)
      r
    } finally spark.sparkContext.removeSparkListener(l)
    assert(got(0) == touchedBuckets(a))
    assert(got(1) == touchedBuckets(b))
    assert(got(2) == Set.empty[Int])
    assert(got(3) == Set(0), "single-bucket table skips the scan")
    assert(jobs.get == 1, s"fused collection must be ONE job, ran ${jobs.get}")
  }
}
