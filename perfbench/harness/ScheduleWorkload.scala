package perfbench

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import graft.frontier._

/** frontier-schedule: repeated read-only `Crawl.schedule(...).count()`
  * passes over a seeded, Zipf-skewed frontier stored like a snapshot
  * (parquet requests, replies and ip_state), so each pass scans, scores
  * with the compiled rule table and picks winners with WinnerDole. */
object ScheduleWorkload {
  val frontier: Inputs.Frontier = Inputs.Frontier(rows = 200000L, ips = 5000, zipf = 0.8, replyShare = 0.3)
  val setupReps = 3
  val minPasses = 3
  // the interpreter cross-check runs on this seeded 1/n slice of the rows
  val sliceEvery = 256

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val run = c.run
    val cfg = Inputs.cfg
    val dir = c.work.resolve("frontier")
    val f = frontier

    // set-up: generate and write the frontier snapshot, several times
    val genSecs = (1 to setupReps).map { k =>
      val t0 = Clock.now()
      run.spans("setup.generate", "setup", Map("rep" -> k.toString)) {
        Inputs.requests(spark, c.seed, f).write.mode("overwrite").parquet(s"$dir/requests")
        Inputs.replies(spark, c.seed, f).write.mode("overwrite").parquet(s"$dir/replies")
        Inputs.ipStates(spark, c.seed, f).write.mode("overwrite").parquet(s"$dir/ip_state")
      }
      Clock.now() - t0
    }
    val reqs = spark.read.parquet(s"$dir/requests").as[FrontierRequest]
    val reps = spark.read.parquet(s"$dir/replies").as[FrontierReply]
    val ips = spark.read.parquet(s"$dir/ip_state").as[IpState]
    val doms = spark.emptyDataset[DomState]
    def pass(): Long = Crawl.schedule(reqs, reps, ips, doms, cfg, 1).count()

    val warm = run.spans.counted("warmup.pass", "setup")(pass())(n => Map("winners" -> n.toDouble))
    val firstTimed = Clock.now()
    // elapsed set-up with the repeated generation counted once, at its median
    run.info("setup_s") = firstTimed - run.launch - genSecs.sum + Main.median(genSecs)
    run.info("setup_reps_s") = genSecs
    run.info("rows_per_op") = f.rows
    run.info("snapshot_bytes") = Main.duBytes(dir)

    // timed passes: at least `minPasses`, until --seconds have passed
    val deadline = firstTimed + c.seconds
    var k = 0
    run.spans("loop", "loop") {
      while (k < minPasses || Clock.now() < deadline) {
        k += 1
        val t0 = Clock.now()
        val cpu0 = Main.processCpuS()
        val n = run.spans.counted(s"pass-$k", "op")(pass())(n => Map("winners" -> n.toDouble))
        val op = Op(s"pass-$k", t0, Clock.now(), n, measured = true, cpuS = Main.processCpuS() - cpu0)
        if (n != warm) { op.ok = false; op.error = s"winners $n != warm-up $warm" }
        run.ops += op
      }
    }


    // traced runs: the snapshot read on its own, after the timed passes
    if (run.trace) run.spans("load", "layer") { reqs.count(); reps.count(); ips.count() }

    run.spans("checks", "check") {
      run.check("passes schedule winners", warm > 0, "warm-up pass scheduled nothing")
      run.check("passes agree", run.ops.forall(_.ok), "a pass disagreed with the warm-up count")
      // compiled rules + WinnerDole against the reference-exact interpreter
      val sReq = Inputs.requests(spark, c.seed, f, sliceEvery)
      val sRep = Inputs.replies(spark, c.seed, f, sliceEvery)
      def rows(ds: Dataset[FetchTask]): Seq[String] =
        ds.toDF().select(sortCols.map(col): _*).collect().toSeq.map(rowKey).sorted
      val compiled = rows(Crawl.schedule(sReq, sRep, ips, doms, cfg, 1))
      val interp = rows(Crawl.scheduleInterpreted(sReq, sRep, ips, doms, cfg, 1,
        spark.emptyDataset[InlinkState], null))
      run.info("slice_winners") = compiled.size
      run.check("slice schedule matches interpreter", compiled.nonEmpty && compiled == interp,
        s"compiled ${compiled.size} rows vs interpreted ${interp.size}; first difference " +
          compiled.zipAll(interp, "-", "-").find { case (a, b) => a != b }.getOrElse(("", "")))
      val cap = math.min(cfg.maxWinnersPerIp, cfg.rules.map(_.ipMaxSpiders).max)
      val perIp = compiled.groupBy(_.split('|')(0)).values.map(_.size).maxOption.getOrElse(0)
      run.check("per-IP winners within rule cap", perIp <= cap, s"an IP got $perIp winners, cap $cap")
    }
    if (run.checks.exists(!_.ok)) run.ops.lastOption.foreach(_.ok = false)
  }

  private val sortCols = Seq("first_ip", "seq_in_ip", "uh48", "url", "priority", "ufn", "spider_time_ms",
    "hop_count", "was_indexed", "req_flags", "site_hash32", "dom_hash32")
  private def rowKey(r: Row): String = r.toSeq.mkString("|")
}
