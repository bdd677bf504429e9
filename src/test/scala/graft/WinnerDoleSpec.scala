package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** plans.WinnerDole (custom logical op + strategy + streamed-heap exec)
  * must produce EXACTLY the rows of the window formulation
  * `row_number() OVER (PARTITION BY first_ip ORDER BY priority DESC,
  * hop ASC, time ASC, uh48 ASC) <= least(ip_max, maxWinners)` —
  * the A2 winner-tree order (Spider.cpp:3461-3497). */
class WinnerDoleSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  /** Random scored frontier: heavy skew (ip 1 holds half the rows),
    * duplicate priorities/hops/times to exercise tie-breaks, varying
    * per-row ip_max. */
  private def synth(n: Long, seed: Int) = {
    val s = spark
    s.range(n).select(
      when(col("id") % 2 === 0, lit(1))
        .otherwise(pmod(hash(col("id") + seed), lit(97)) + 2).as("first_ip"),
      col("id").as("uh48"),
      concat(lit("http://t/"), col("id")).as("url"),
      pmod(hash(col("id") * 7 + seed), lit(5)).as("priority"),
      lit(0).as("ufn"),
      pmod(hash(col("id") * 13 + seed), lit(11)).cast("long").as("spider_time_ms"),
      pmod(hash(col("id") * 3 + seed), lit(4)).as("hop_count"),
      (pmod(hash(col("id") * 31 + seed), lit(6)) + 1).as("ip_max"),
      (col("id") % 3 === 0).as("was_indexed_in"),
      (col("id") % 17).as("flags"),
      pmod(hash(col("id") + 1), lit(1000)).as("site_hash32"),
      pmod(hash(col("id") + 2), lit(1000)).as("dom_hash32"))
  }

  private def windowRef(df: org.apache.spark.sql.DataFrame, k: Int, maxW: Int) = {
    val w = Window.partitionBy(col("first_ip"))
      .orderBy(col("priority").desc, col("hop_count").asc,
        col("spider_time_ms").asc, col("uh48").asc)
    df.withColumn("pos", row_number().over(w) - 1)
      .filter(col("pos") < least(col("ip_max"), lit(math.min(k, maxW))))
      .select(col("uh48"), col("first_ip"), col("url"), col("priority"),
        col("ufn"), col("spider_time_ms"), col("hop_count"),
        col("pos").cast("int").as("seq_in_ip"),
        col("was_indexed_in").as("was_indexed"), col("flags").as("req_flags"),
        col("site_hash32"), col("dom_hash32"))
  }

  private def check(n: Long, seed: Int, k: Int, maxW: Int): Unit = {
    val df = synth(n, seed)
    val dole = graft.plans.WinnerDole(df, k, maxW)
    val ref = windowRef(df, k, maxW)
    val a = dole.collect().map(_.toString).sorted
    val b = ref.collect().map(_.toString).sorted
    assert(a.length == b.length, s"row count ${a.length} vs ${b.length}")
    assert(a.sameElements(b), "row content mismatch")
  }

  test("dole == window on skewed random input (k=6)") { check(20000, 42, 6, 2000) }
  test("dole == window, tiny k truncation (k=3)") { check(20000, 7, 3, 3) }
  test("dole == window, k larger than any group") { check(5000, 99, 2000, 2000) }
  test("empty input") {
    assert(graft.plans.WinnerDole(synth(10, 1).filter(lit(false)), 5, 5).count() == 0)
  }

  test("dole with `eligible` == window over the eligible rows; an all-ineligible IP emits nothing") {
    // every row of ip 2 is ineligible, and about a third of the others
    val df = synth(20000, 11)
      .withColumn("eligible", col("first_ip") =!= 2 && pmod(hash(col("uh48") * 5), lit(3)) =!= 0)
    assert(df.filter(col("first_ip") === 2).count() > 0)
    val dole = graft.plans.WinnerDole(df, 6, 2000).collect()
    val a = dole.map(_.toString).sorted
    val b = windowRef(df.filter(col("eligible")), 6, 2000).collect().map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b), s"row content mismatch: ${a.length} vs ${b.length} rows")
    assert(!dole.exists(_.getAs[Int]("first_ip") == 2), "an IP with no eligible row got a winner")
  }

  test("wake: winners == window over the eligible rows; one sentinel per IP at min(next_lb) over all its rows") {
    // every row of ip 2 is ineligible, and about a third of the others;
    // next_lb is drawn independently of eligibility
    val df = synth(20000, 13)
      .withColumn("eligible", col("first_ip") =!= 2 && pmod(hash(col("uh48") * 5), lit(3)) =!= 0)
      .withColumn("next_lb", pmod(hash(col("uh48") * 11), lit(1000000)).cast("long"))
    val out = graft.plans.WinnerDole.wake(df, 6, 2000).collect()
    val (sentinels, winners) = out.partition(_.getAs[Int]("seq_in_ip") == -1)

    val a = winners.map(_.toString).sorted
    val b = windowRef(df.filter(col("eligible")), 6, 2000).collect().map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b), s"winner mismatch: ${a.length} vs ${b.length} rows")

    def minLb(rows: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      rows.groupBy("first_ip").agg(min("next_lb")).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = minLb(df)
    val got = sentinels.map(r => r.getAs[Int]("first_ip") -> r.getAs[Long]("spider_time_ms"))
    assert(got.length == want.size && got.toMap.size == want.size, "exactly one sentinel per input IP")
    assert(got.toMap == want, "a sentinel's time is min(next_lb) over all the IP's rows")
    assert(want.contains(2), "the all-ineligible IP has its sentinel")
    // the ineligible rows decide some IP's wake time
    val eligibleOnly = minLb(df.filter(col("eligible")))
    assert(want.exists { case (ip, lb) => !eligibleOnly.get(ip).contains(lb) })
  }

  test("plan: no partial+final aggregate, single-key sort, exchange reuse") {
    val df = synth(1000, 5).repartition(col("first_ip"))
    val p = graft.plans.WinnerDole(df, 5, 5).queryExecution.executedPlan.toString
    assert(p.contains("WinnerDole"), p)
    assert(!p.contains("ObjectHashAggregate"), s"agg in plan:\n$p")
    // exactly one exchange (the explicit repartition), reused by the dole
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 1, s"extra exchange:\n$p")
  }
}
