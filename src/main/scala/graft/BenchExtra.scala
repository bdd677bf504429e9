package graft

import org.apache.spark.sql.SparkSession
import graft.frontier.{Corpus, Crawl}

/** r6 optimization-round EXTRA measurements (guide §1.4) — separate
  * from the frozen graft.Bench harness. Sections:
  *
  *  - `loopjobs`: the 1024/4096-host loop points with per-iteration
  *    Spark-job counts (VERDICT r5 next #7 — the jobs/iter creep at
  *    4096 hosts; the fix is the GraftShim.QuietBatchRows session gate)
  *  - `headnoop`: headline queries timed with the noop sink instead of
  *    count() — times the full materialization of every column
  *
  * Usage: runMain graft.BenchExtra <section>
  */
object BenchExtra {

  private def newSession(cpus: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def loopPoint(cpus: Int, iterations: Int, spec: Corpus.Spec): Unit = {
    val spark = newSession(cpus)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    val work = java.nio.file.Files.createTempDirectory(s"graft_bx_$cpus").toString
    val cfg = Crawl.Config(clockStepMs = 60000L, seenBuckets = 8,
      expectedSeenPerBucket = 20000L)
    val roots = (0 until spec.nHosts).map(k => s"http://${Corpus.host(k)}/")
    val t0 = System.nanoTime()
    val results = Crawl.run(spark, work, spec, iterations, cfg, seedUrls = roots)
    val secs = (System.nanoTime() - t0) / 1e9
    val sched = results.map(_.scheduled).sum
    spark.stop()
    println(f"#X loop hosts=${spec.nHosts} iters=$iterations urls=$sched " +
      f"secs=$secs%.1f sched_per_sec=${sched / secs}%.1f " +
      f"jobs_per_iter=${jobs.get.toDouble / iterations}%.0f")
  }

  private def headNoop(): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = newSession(cpus)
    val qs = Seq("q1_lineitem_agg", "a2_winner_topk", "j2_seen_antijoin",
      "q2_search_topk", "q4_search_density", "q5_search_phrase",
      "q8_search_summary", "q10_search_gigabits", "q12_search_pairmin",
      "dedup_ngram_jaccard", "ann_lsh_topk", "mm_decode")
    qs.foreach { q =>
      spark.sparkContext.setJobDescription(s"noop:$q")
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sf)
        .write.format("noop").mode("overwrite").save()
      println(f"#X noop_$q ${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = args.headOption.getOrElse("loopjobs") match {
    case "loopjobs" =>
      loopPoint(8, 4, Corpus.Spec(1024, 4, 4))
      loopPoint(8, 4, Corpus.Spec(4096, 4, 4))
    case "headnoop" => headNoop()
    case other => sys.error(s"unknown section: $other")
  }
}
