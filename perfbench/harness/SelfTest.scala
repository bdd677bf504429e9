package perfbench

import org.apache.spark.sql.SparkSession

/** Checks of the seeded input generators; exits non-zero on a failure.
  * Run through `python3 perfbench/run.py --self-test`. */
object SelfTest {
  private var failures = 0
  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val spec = CrawlWorkload.spec
    expect("seed list: same seed, same hosts", Inputs.seedHosts(7, spec.nHosts) == Inputs.seedHosts(7, spec.nHosts))
    expect("seed list: other seed, other hosts", Inputs.seedHosts(7, spec.nHosts) != Inputs.seedHosts(8, spec.nHosts))
    expect("seed list: three quarters of the roots", Inputs.seedUrls(7, spec).distinct.size == spec.nHosts * 3 / 4)

    val f = ScheduleWorkload.frontier.copy(rows = 20000L)
    val cdf = Inputs.zipfCdf(f.ips, f.zipf)
    def reqs(seed: Long) = (0L until f.rows).map(i => Inputs.request(seed, i, cdf))
    def reps(seed: Long) = (0L until f.rows).flatMap(i => Inputs.reply(seed, i, cdf, f.replyShare))
    expect("frontier: same seed, same requests", reqs(3) == reqs(3))
    expect("frontier: same seed, same replies", reps(3) == reps(3))
    expect("frontier: other seed, other requests", reqs(3).map(_.url) != reqs(4).map(_.url))
    expect("frontier: other seed, other replies", reps(3).map(_.uh48) != reps(4).map(_.uh48))
    val byIp = reqs(3).groupBy(_.first_ip).values.map(_.size).toSeq.sorted.reverse
    expect("frontier: hottest IP holds a percent-level share", byIp.head > f.rows / 100 && byIp.head < f.rows / 4)
    val share = reps(3).size.toDouble / f.rows
    expect("frontier: reply share near target", math.abs(share - f.replyShare) < 0.02)
    expect("frontier: urls unique", reqs(3).map(_.uh48).distinct.size == f.rows)

    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      expect("frontier: Spark generator matches the row function",
        Inputs.requests(spark, 3, f).collect().toSeq.sortBy(_.url) == reqs(3).sortBy(_.url))
      val slice = Inputs.requests(spark, 3, f, 64).collect().toSeq
      expect("frontier: slice is a seeded subset",
        slice.nonEmpty && slice.size < f.rows / 32 && slice.map(_.url).toSet.subsetOf(reqs(3).map(_.url).toSet))
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
