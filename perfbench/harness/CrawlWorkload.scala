package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.GbHash
import graft.frontier._
import scala.collection.mutable

/** crawl-small: the full crawl loop (`Crawl.run`) on the 256-host synthetic
  * corpus from a seeded three-quarter sample of host roots. The first
  * iteration (snapshot 0, cold JIT and codegen) is set-up; the measured
  * window runs from its STATUS.json rewrite until `Crawl.run` returns. */
object CrawlWorkload {
  val spec: Corpus.Spec = Corpus.Spec(256, 4, 4)
  // the loop profile's settings: a one-minute simulated clock step so
  // politeness lets each iteration dole real batches
  val cfg: Crawl.Config = Crawl.Config(clockStepMs = 60000L, seenBuckets = 8, expectedSeenPerBucket = 20000L)
  // the loop's default: compaction after every 4th iteration
  val compactEvery = 4
  // loop seconds one measured iteration takes
  val iterBudgetS = 20.0

  /** Records each STATUS.json rewrite (one per finished iteration). */
  final class StatusWatcher(workdir: Path) extends Thread("perfbench-status") {
    // iteration -> (wall clock, process CPU seconds) at its STATUS.json rewrite
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Double)]()
    @volatile private var stopped = false
    private val iterRe = "\"iteration\":(\\d+)".r
    setDaemon(true)
    private val file = workdir.resolve("STATUS.json")
    private var last = ""
    private def poll(): Unit =
      try if (Files.exists(file)) {
        val s = Files.readString(file)
        if (s != last) {
          val t = (Clock.now(), Main.processCpuS())
          last = s
          iterRe.findFirstMatchIn(s).foreach(m => ends.putIfAbsent(m.group(1).toInt, t))
        }
      } catch { case _: java.io.IOException => () } // mid-rewrite; the next poll retries
    override def run(): Unit = while (!stopped) { poll(); Thread.sleep(2) }
    def finish(): Unit = { stopped = true; join(); poll() }
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val run = c.run
    val measured = math.max(1, math.floor(c.seconds / iterBudgetS).toInt)
    val iterations = 1 + measured
    val wd = c.work.resolve("crawl")
    Main.deleteTree(wd)
    Files.createDirectories(wd)
    val seeds = Inputs.seedUrls(c.seed, spec)
    run.info("seed_urls") = seeds.size

    val watcher = new StatusWatcher(wd)
    watcher.start()
    val loopStart = (Clock.now(), Main.processCpuS())
    val results = try run.spans("loop", "loop") {
      Crawl.run(spark, wd.toString, spec, iterations, cfg, compactEvery, seeds)
    } finally watcher.finish()
    val loopEnd = (Clock.now(), Main.processCpuS())
    val ends = (1 to results.size).map(i => Option(watcher.ends.get(i)).getOrElse((Double.NaN, Double.NaN)))
    val loopSpan = run.spans.all.find(_.name == "loop").map(_.id).getOrElse(0)
    results.zipWithIndex.foreach { case (r, k) =>
      val start = if (k == 0) loopStart else ends(k - 1)
      val end = if (k == results.size - 1) loopEnd else ends(k)
      val op = Op(s"iteration-${k + 1}", start._1, end._1, r.scheduled, measured = k > 0, cpuS = end._2 - start._2)
      run.ops += op
      run.spans.add(op.name, if (op.measured) "op" else "setup", start._1, end._1, loopSpan,
        Map("scheduled" -> r.scheduled.toDouble, "fetched" -> r.fetched.toDouble, "new_urls" -> r.newUrls.toDouble))
    }
    // a compaction after the last iteration closes the window; as a layer
    // span it is the compact layer's sample
    val compacted = results.size % compactEvery == 0
    if (compacted)
      run.spans.add("compact", "layer", ends.last._1, loopEnd._1, loopSpan,
        tags = Map("snapshot" -> results.size.toString))
    run.info("setup_s") = ends.head._1 - run.launch
    run.info("snapshot_bytes") = Main.duBytes(wd)

    run.spans("checks", "check")(checks(spark, run, wd, results))
    if (run.trace) replay(c, wd, results.size, compacted)
    Main.deleteTree(wd)
  }

  /** Output invariants; a failed check fails the iteration it concerns
    * (whole-crawl checks fail the last one). */
  private def checks(spark: SparkSession, run: Run, wd: Path, results: Seq[Crawl.IterationResult]): Unit = {
    val cap = math.min(cfg.maxWinnersPerIp, cfg.rules.map(_.ipMaxSpiders).max)
    val logs = results.indices.map { k =>
      spark.read.parquet(s"${Crawl.snapDir(wd.toString, k + 1)}/fetch_log")
        .select("iteration", "first_ip", "seq", "url", "priority", "err_code").collect().toSeq
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3), r.getInt(4), r.getInt(5)))
    }
    results.zip(logs).zipWithIndex.foreach { case ((res, log), k) =>
      val it = k + 1
      val uh = log.map(r => GbHash.uh48(r._4))
      val perIp = log.groupBy(_._2).values.map(_.size).maxOption.getOrElse(0)
      val ok = Seq(
        run.check(s"iteration $it fetch log rows == scheduled", log.size == res.scheduled,
          s"${log.size} rows vs scheduled ${res.scheduled}"),
        run.check(s"iteration $it no uh48 repeats", uh.distinct.size == uh.size,
          s"${uh.size - uh.distinct.size} repeats"),
        run.check(s"iteration $it per-IP winners within rule cap", perIp <= cap, s"an IP got $perIp, cap $cap"))
      if (ok.contains(false)) run.ops(k).ok = false
    }
    val last = results.size
    val seen = Crawl.loadLoopState(spark, wd.toString, last, cfg).seenUh48
      .select("uh48").collect().map(_.getLong(0)).sorted
    val seenSet = seen.toSet
    val fetched = logs.flatten.map(r => GbHash.uh48(r._4)).distinct
    val missing = fetched.count(u => !seenSet.contains(u))
    val whole = Seq(
      run.check("seen set has no duplicates", seenSet.size == seen.length, s"${seen.length - seenSet.size} duplicates"),
      run.check("every fetched uh48 is in the seen set", missing == 0, s"$missing fetched uh48s not seen"))
    if (whole.contains(false)) run.ops.last.ok = false
    val md = MessageDigest.getInstance("SHA-256")
    logs.flatten.map(_.productIterator.mkString("|")).sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    seen.foreach(u => md.update(s"$u\n".getBytes("UTF-8")))
    run.info("digest") = md.digest().map("%02x".format(_)).mkString
    run.info("seen_size") = seen.length
    run.info("fetch_log_rows") = logs.map(_.size).sum
  }

  /** Layer replay (traced runs): for each measured iteration i, re-run
    * load / schedule / fetch / resolve / admit on snapshot i-1's state with
    * a materialising action per layer. Unless the loop ended on a
    * compaction, compact the last snapshot of a copy of the workdir. */
  private def replay(c: Ctx, wd: Path, iterations: Int, compacted: Boolean): Unit = {
    val run = c.run
    // the loop runs batches below the quiet threshold on an AQE-off
    // sibling session; replay on the same kind of session
    val spark = c.spark.newSession()
    c.spark.conf.getAll.foreach { case (k, v) => try spark.conf.set(k, v) catch { case _: Throwable => () } }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    import spark.implicits._
    val w = wd.toString
    val (pages, robots, hostMeta, redir) = run.spans("replay.inputs", "setup") {
      val p = Corpus.pages(spark, spec).persist(StorageLevel.MEMORY_AND_DISK)
      val r = Crawl.redirectClosure(Corpus.redirects(spark, spec)).persist(StorageLevel.MEMORY_AND_DISK)
      p.count(); r.count()
      (p, Corpus.robots(spark, spec), Corpus.hostMeta(spark, spec), r)
    }
    val layers = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def note(k: String, v: Double): Unit = layers.getOrElseUpdate(k, mutable.ArrayBuffer()) += v

    run.spans("replay", "replay") {
      for (i <- 2 to iterations) run.spans("replay.iteration", "replay", Map("iteration" -> i.toString)) {
        val st = run.spans("load", "layer") {
          val s = Crawl.loadLoopState(spark, w, i - 1, cfg)
          Seq[DataFrame](s.requests.toDF(), s.replies.toDF(), s.ipState.toDF(), s.domState.toDF(),
            s.inlinks.toDF(), s.tagState.toDF(), s.quotaState, s.ipCounts, s.titleVecs, s.seenUh48, s.bloom)
            .++(s.ipNext.toSeq).foreach(_.count())
          s
        }
        val (dole, winners) = run.spans.counted("schedule", "layer") {
          val so = Crawl.scheduleWake(st.requests, st.replies, st.ipState, st.domState, cfg, i,
            st.inlinks, st.quotaState, st.ipNext)
          val d = so.dole.filter(col("seq_in_ip") >= 0).as[FetchTask].persist(StorageLevel.MEMORY_AND_DISK)
          (d, d.count())
        }(r => Map("winners" -> r._2.toDouble))
        note("schedule.winners", winners.toDouble)
        val results = run.spans.counted("fetch", "layer") {
          val r = Crawl.fetch(dole, pages, robots, cfg, i, redir, st.titleVecs).persist(StorageLevel.MEMORY_AND_DISK)
          val agg = r.map(x => (1L, if (x.errCode == Errs.OK) 1L else 0L, x.outlinks.size.toLong))
            .toDF("n", "ok", "out").agg(sum("n"), sum("ok"), sum("out")).head()
          (r, agg.getLong(0), agg.getLong(1), agg.getLong(2))
        }(r => Map("pages" -> r._2.toDouble, "ok" -> r._3.toDouble, "outlinks" -> r._4.toDouble))
        note("fetch.pages", results._2.toDouble)
        note("fetch.ok_ratio", if (results._2 > 0) results._3.toDouble / results._2 else 1.0)
        note("fetch.outlinks", results._4.toDouble)
        val resolved = run.spans.counted("resolve", "layer") {
          val r = Crawl.resolveOutlinks(results._1, hostMeta, st.tagState).persist(StorageLevel.MEMORY_AND_DISK)
          (r, r.count())
        }(r => Map("outlinks" -> r._2.toDouble))
        note("resolve.outlinks", resolved._2.toDouble)
        val candidates: Dataset[FrontierRequest] = resolved._1.map(_.req)
        val admitted = run.spans.counted("admit", "layer") {
          Crawl.admitNew(candidates, st.seenUh48, st.bloom, cfg).count()
        }(n => Map("admitted" -> n.toDouble))
        // filter health, outside the admit span: bloom positives against
        // exact seen-set membership gives the observed false-positive rate
        val t = run.spans("admit.filter_health", "check") {
          val tagged = SeenBloom.tagged(candidates, st.bloom, cfg.seenBuckets)
            .map { case (r, pos) => (r.uh48, pos) }.toDF("uh48", "pos")
          val seenKeys = st.seenUh48.select(col("uh48").as("s_uh48")).distinct()
          tagged.join(seenKeys, col("uh48") === col("s_uh48"), "left_outer")
            .agg(count(lit(1)), sum(when(col("pos"), 1L).otherwise(0L)),
              sum(when(col("s_uh48").isNull, 1L).otherwise(0L)),
              sum(when(col("pos") && col("s_uh48").isNull, 1L).otherwise(0L))).head()
        }
        val (cands, pos, unseen, fp) = (t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3))
        note("admit.candidates", cands.toDouble)
        note("admit.admitted_ratio", if (cands > 0) admitted.toDouble / cands else 1.0)
        note("admit.bloom_pos_ratio", if (cands > 0) pos.toDouble / cands else 0.0)
        note("admit.bloom_fp_ratio", if (unseen > 0) fp.toDouble / unseen else 0.0)
        resolved._1.unpersist(); results._1.unpersist(); dole.unpersist()
      }
      if (!compacted) {
        val copy = c.work.resolve("crawl-compact")
        Main.deleteTree(copy)
        Main.copyTree(wd, copy)
        // the loop compacts on its AQE-on session
        run.spans("compact", "layer", Map("snapshot" -> iterations.toString)) {
          Crawl.compact(c.spark, copy.toString, iterations, cfg)
        }
        Main.deleteTree(copy)
      }
    }
    pages.unpersist(); redir.unpersist()
    run.info("bloom_fpp") = cfg.bloomFpp
    layers.foreach { case (k, v) => run.layers(k) = v.toSeq }
  }
}
