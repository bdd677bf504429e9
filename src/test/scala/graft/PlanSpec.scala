package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.textops.TextOps

/** Physical-plan shape assertions for the scale-critical textops: the
  * properties that make an operator survive a 100× scale-up are plan
  * properties, so pin them (VERDICT r1: "assert via plan string"). */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("dedup_exact: hash aggregate, no window sort over the full text") {
    val p = plan(TextOps.exactDupCounts(docs))
    assert(!p.contains("Window"), s"window (full-text sort) in plan:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      s"expected hash aggregate with map-side combine:\n$p")
  }

  test("dedup_embedding_cosine: no CartesianProduct (bounded broadcast loop)") {
    val p = plan(TextOps.embeddingDupPairs(emb, 300L, 35))
    assert(!p.contains("CartesianProduct"), s"cartesian product in plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected broadcast NL join:\n$p")
  }

  test("dedup_embedding_lsh: candidate generation is an equi-join on band keys") {
    val p = plan(TextOps.embeddingLshDupPairs(emb, 90))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join must be an equi-join on (band, bkey):\n$p")
  }

  test("dedup_minhash_lsh: equi-join on band buckets, no cartesian") {
    val p = plan(TextOps.minhashLshCandidates(docs, 32, 8, 500L))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("schedule: frontier is exchanged once, on first_ip") {
    import spark.implicits._
    val reqs = spark.createDataset((0 until 100).map { k =>
      val u = graft.core.GbUrl.parse(s"http://h$k.test/p.html")
      graft.frontier.FrontierRequest(u.uh48, k + 1, u.url, u.hostHash32, u.domHash32,
        u.hostHash32, -1, 1400000000L, 1400000000L, 1, "", 0L, 0, 0L)
    })
    val batch = graft.frontier.Crawl.schedule(reqs,
      spark.emptyDataset[graft.frontier.FrontierReply],
      spark.emptyDataset[graft.frontier.IpState],
      spark.emptyDataset[graft.frontier.DomState],
      graft.frontier.Crawl.Config(), 1)
    val p = plan(batch.toDF())
    // exactly one exchange keyed by the frontier's first_ip partitioning;
    // the reply/state/inlink sides broadcast at this scale
    val exchanges = "Exchange hashpartitioning\\(first_ip".r.findAllIn(p).length
    assert(exchanges == 1, s"expected ONE frontier exchange on first_ip, got $exchanges:\n$p")
    // A2 winner selection is the BOUNDED-heap streamed operator, not a
    // window (a window's per-IP full sort buffers an entire skewed IP
    // in one task — the 100-TB scale-killer) and not the r3
    // partial+final aggregate (whose per-heap serde was the r3 schedule
    // kernel's top cost): ONE WinnerDole pass over the ip-sorted stream
    assert(!p.contains("Window"), s"winner selection must not be a Window:\n$p")
    assert(p.contains("WinnerDole"), s"expected the WinnerDole operator:\n$p")
    assert(!p.contains("winner_topk"), s"the groupBy(winner_topk) aggregate shape is retired:\n$p")
  }

  test("scheduleWake: due-IP semi-join prunes the frontier scan BELOW the exchange") {
    import spark.implicits._
    val reqs = spark.createDataset((0 until 100).map { k =>
      val u = graft.core.GbUrl.parse(s"http://h$k.test/p.html")
      graft.frontier.FrontierRequest(u.uh48, k + 1, u.url, u.hostHash32, u.domHash32,
        u.hostHash32, -1, 1400000000L, 1400000000L, 1, "", 0L, 0, 0L)
    })
    val due = Seq(1, 2, 3).toDF("first_ip")
    val so = graft.frontier.Crawl.scheduleWake(reqs,
      spark.emptyDataset[graft.frontier.FrontierReply],
      spark.emptyDataset[graft.frontier.IpState],
      spark.emptyDataset[graft.frontier.DomState],
      graft.frontier.Crawl.Config(), 1,
      spark.emptyDataset[graft.frontier.InlinkState], null,
      Some(due.withColumn("next_ms", lit(0L))))
    assert(so.wake, "default rules must be wake-safe")
    val p = plan(so.dole)
    // the semi-join on the due set must appear, and it must sit BELOW
    // the first_ip exchange (non-due rows never shuffle)
    assert(p.contains("LeftSemi"), s"expected the due-IP semi-join:\n$p")
    val semiAt = p.indexOf("LeftSemi")
    val exAt = p.indexOf("Exchange hashpartitioning(first_ip")
    assert(exAt >= 0 && semiAt > exAt,
      s"semi-join must be under the exchange (appear after it in the tree):\n$p")
  }

  /** A sibling of the test session that generates whole-stage code and
    * plans statically (AQE off), so `executedPlan` is the plan that runs. */
  private lazy val codegenSession = {
    val session = spark.newSession()
    session.conf.set("spark.sql.codegen.wholeStage", "true")
    session.conf.set("spark.sql.adaptive.enabled", "false")
    session
  }

  /** HotSpot's `HugeMethodLimit`: a larger method always runs interpreted. */
  private val JitMethodBytes = 8000

  /** CASE branches in the optimized plan besides the rule chain's (one
    * per rule at most; the optimizer drops a rule that cannot match):
    * `iswww`'s scheme test (2 per rule that uses it, 2 rules),
    * the `HadReply` flag fix (1), the spider-time formula (4: crawl
    * delay, revisit wait, reply term, injected/reindex start) and, in
    * the wake pass, `next_lb`'s copy of it without the crawl-delay term
    * (3) and its force-delete override (1). */
  private val ScheduleFixedBranches = 13

  private def caseBranches(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.map(_.collect {
        case c: org.apache.spark.sql.catalyst.expressions.CaseWhen => c.branches.size
      }.sum).sum
    }.sum

  private def maxMethodBytes(df: org.apache.spark.sql.DataFrame): Int =
    org.apache.spark.sql.execution.debug.codegenStringSeq(df.queryExecution.executedPlan)
      .map(_._3.maxMethodCodeSize).max

  test("schedule and scheduleWake: the rule table is evaluated once per row, every generated method JITs") {
    import graft.frontier._
    val session = codegenSession
    import session.implicits._
    val reqSeq = (0 until 100).map { k =>
      val u = graft.core.GbUrl.parse(s"http://www.h$k.test/p$k.html")
      FrontierRequest(u.uh48, k % 10 + 1, u.url, u.hostHash32, u.domHash32,
        u.hostHash32, 3, 1400000000L, 1400000000L, k % 4, "", 0L, 0, 0L)
    }
    val reqs = session.createDataset(reqSeq)
    val reps = session.createDataset(reqSeq.filter(_.uh48 % 3 == 0).map(r =>
      FrontierReply(r.uh48, r.first_ip, 1399990000L, 0, 200, -1, 1399990000000L, "en", 7, 0f, 0L, 0)))
    val ips = session.createDataset((1 to 10).map(ip => IpState(ip, 1400000000000L)))
    val doms = session.createDataset(reqSeq.take(20).map(r => DomState(r.dom_hash32, 500)))
    val inlinks = session.createDataset(reqSeq.take(30).map(r => InlinkState(r.first_ip, r.uh48, Array(1, 2, 3))))
    val cfg = Crawl.Config()
    val so = Crawl.scheduleWake(reqs, reps, ips, doms, cfg, 1, inlinks, null,
      Some(Seq(1, 2, 3).toDF("first_ip").withColumn("next_ms", lit(0L))))
    assert(so.wake, "default rules must be wake-safe")
    // a site list keeps the compiled path: `insitelist` is native
    val siteListed = cfg.copy(siteList = Seq("contains:.test"))
    val plans = Seq(
      "schedule" -> Crawl.schedule(reqs, reps, ips, doms, cfg, 1, inlinks).toDF(),
      "scheduleWake" -> so.dole,
      "scheduleWake with a site list" -> Crawl.scheduleWake(reqs, reps, ips, doms, siteListed, 1, inlinks, null,
        Some(Seq(1, 2, 3).toDF("first_ip").withColumn("next_ms", lit(0L)))).dole)
    val shapes = plans.map { case (name, df) => (name, caseBranches(df), maxMethodBytes(df)) }
    val report = shapes.map { case (n, c, b) => s"$n: $c CASE branches, largest method $b bytes" }
      .mkString("; ")
    info(report)
    for ((name, cases, bytes) <- shapes) {
      assert(cases <= cfg.rules.size + ScheduleFixedBranches,
        s"$name repeats the ${cfg.rules.size}-rule chain ($report):\n" +
          plans.toMap.apply(name).queryExecution.optimizedPlan)
      assert(bytes <= JitMethodBytes, s"$name generates a method above HotSpot's " +
        s"$JitMethodBytes-byte JIT limit ($report)")
    }
  }

  test("GenPlans.normalize: the same query planned twice gives the same text") {
    val work = "/tmp/graft_plans0123"
    def build() = {
      val t = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
      org.apache.spark.sql.GraftShim.explainFormatted(
        t.join(broadcast(t.groupBy("k").count()), "k"))
    }
    val (a, b) = (build(), build())
    assert(a != b, "fresh expression ids must differ before normalising")
    assert(graft.tools.GenPlans.normalize(a, work) == graft.tools.GenPlans.normalize(b, work))
    assert(graft.tools.GenPlans.normalize(
      s"Output [2]: [uh48#12537L, url#12539]\nInput [1]: [uh48#12537L]\n" +
        s"Location: InMemoryFileIndex [file:$work/snap_00000/requests]\n[plan_id=9027]\n" +
        "Arguments: graft.frontier.Crawl$$$Lambda$5704/0x00007f14655fac20@1288c40a, ReduceAggregator@4e38213", work) ==
      "Output [2]: [uh48#1L, url#2]\nInput [1]: [uh48#1L]\n" +
        "Location: InMemoryFileIndex [file:<workdir>/snap_00000/requests]\n[plan_id=1]\n" +
        "Arguments: graft.frontier.Crawl$$$Lambda@<id>, ReduceAggregator@<id>")
  }
}
