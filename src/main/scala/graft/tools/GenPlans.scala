package graft.tools

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import graft.frontier._

/** Regenerates PLANS.md: formatted physical plans of the engine's
  * hottest paths, with a short "what to look for" audit per section.
  * Run after operator changes so the committed plans match the code. */
object GenPlans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // a real micro-crawl so every plan reads actual chain tables
    val work = graft.Dirs.temp("graft_plans")
    val cfg = Crawl.Config()
    val spec = Corpus.micro
    Crawl.run(spark, work, spec, 2, cfg,
      seedUrls = (0 until spec.nHosts).map(k => s"http://${Corpus.host(k)}/"))

    val i = 2
    val st = Crawl.loadLoopState(spark, work, i, cfg)

    val out = new StringBuilder
    out ++= "# PLANS — formatted physical plans of the key operators\n\n"
    out ++= "Generated by `graft.tools.GenPlans` (run it after operator\n"
    out ++= "changes; plans below are from a real micro-crawl chain).\n\n"

    def section(title: String, audit: String, df: DataFrame): Unit = {
      out ++= s"## $title\n\n$audit\n\n```\n"
      out ++= normalize(GraftShim.explainFormatted(df).trim, work)
      out ++= "\n```\n\n"
    }

    val so = Crawl.scheduleWake(st.requests, st.replies, st.ipState, st.domState, cfg, i + 1,
      st.inlinks, st.quotaState, st.ipNext)
    section("schedule (F1+A1+A2+A3): due-IP prune → scan → score → streamed-heap dole",
      """What to look for:
- the A3 waiting-tree prune: BOTH the frontier scan AND the reply
  scan semi-join the per-IP table's due IPs (`next_ms`) (BroadcastHashJoin LeftSemi)
  BELOW the one Exchange, so non-due requests never shuffle and the
  latest-reply aggregate runs over O(due slices), not O(crawled) —
  the reference's per-IP spiderdb read covers that IP's requests and
  replies in one list (Spider.cpp:2503-2724, :3805)
- ONE Exchange total (hashpartitioning on first_ip) feeding a
  single-key Sort (radix) and `WinnerDole` — the custom bounded-heap
  exec (plans/WinnerDole.scala); no Window, no per-IP full sort
- the F1 rule table is plain `CASE WHEN` projections inside
  WholeStageCodegen spans; F7 corruption filters reach the parquet
  scans as PushedFilters""",
      so.dole)

    // the same scan under a site list: the insitelist token compiles to
    // a native substring test, the rest of the plan as above
    val siteListed = cfg.copy(siteList = Seq("contains:.test"))
    section("schedule, site list (F6): the same plan, `insitelist` native",
      """What to look for:
- the plan of the section above, with the waiting-tree prune and ONE
  Exchange: a site list keeps the compiled path and the waiting tree
- `insitelist` is `Contains(url, .test)` in the rule chain's CASE: no
  `UDF`, no request or reply struct, no quota join""",
      Crawl.scheduleWake(st.requests, st.replies, st.ipState, st.domState, siteListed, i + 1,
        st.inlinks, st.quotaState, st.ipNext).dole)

    // the fetch of that dole, on the inputs Crawl.run gives it; the
    // redirect closure as a cut leaf (its own plan is an unrolled loop)
    val batch = GraftShim.cutLineage(so.dole.persist()).filter(col("seq_in_ip") >= 0).as[FetchTask]
    section("fetch (S6+X5+X7): pages join → robots → frame urls fan out → one row per task → per-page map",
      """What to look for:
- the batch rows (the batch ⋈ redirect-closure join and the pages
  join on `eff_url`) are computed ONCE: no branch of the plan
  repeats them
- each row fans out to its frame urls (`Generate explode`), which
  join pages on `f_src` and robots on their host, left outer
- ONE Exchange on `first_ip` feeds ONE ObjectHashAggregate that folds
  the rows back to one per (first_ip, uh48, seq_in_ip) with the frame
  contents as ONE `collect_list`, then ONE per-page typed map""",
      Crawl.fetch(batch, Corpus.pages(spark, spec).persist(), Corpus.robots(spark, spec), cfg, i + 1,
        GraftShim.cutLineage(Crawl.redirectClosure(Corpus.redirects(spark, spec))), st.titleVecs).toDF)

    // J2: admission anti-join with bloom prefilter; the URL-seen set is
    // the requests chain itself
    val cand = st.requests.limit(200)
    val tagged = graft.frontier.SeenBloom.tagged(cand, st.bloom, cfg.seenBuckets)
    section("admission (J2): bloom-prefiltered URL-seen anti-join",
      """What to look for:
- the candidate side probes the per-bucket bloom FIRST; only
  bloom-positive rows pay the exact anti-join (bloom alone cannot
  give byte-equality, fp>0), bloom-negative rows pass straight through
- the exact side is the requests chain's uh48 column (column pruning
  reaches its scans) with no distinct: left_anti is set semantics
  already""",
      Crawl.admitTagged(tagged, st.requests.toDF()).toDF)

    // state merge with InSet touched-bucket pruning
    val delta = st.quotaState.orderBy("key").limit(3)
    val ids = StateTable.touchedBucketsMulti(Seq((delta, df => Seq(df("key")), 8))).head
    val merged = st.quotaState
      .filter(StateTable.bucketCol(Seq(col("key")), 8).isInCollection(ids))
      .unionByName(delta)
      .groupBy("key").agg(sum(col("n")).as("n"))
    section("state merge (O(delta) chain): touched-bucket InSet prune → merge",
      """What to look for:
- prior state is pruned by a single InSet predicate on the bucket id
  (collected from the delta — at most the bucket count, <=65536
  values); no broadcast-build stage, no join: untouched buckets never
  shuffle, and the delta write rewrites only the touched buckets
  (StateTable.writeDelta partitionBy(bucket))""",
      merged)

    // search slice
    val titledb = Crawl.loadTitledb(spark, work, i)
    section("search top-k (§2.6 slice): row-local tf fold → AND filter → site-cluster → top-k",
      """What to look for (r6 shape):
- ONE scan: the substring pre-filter (Contains, token present ⇒
  substring present — exact) gates the tokenizer; tf per term and the
  AND-intersection are row-local array folds (size(filter(split...)))
  inside the scan's WholeStageCodegen — no Generate, no corpus
  hash-aggregate, no second scan for the site column
- the ONLY corpus-fed Exchange is the site-clustering window over
  MATCHING docs; global top-k is TakeOrderedAndProject (TopTree's
  bounded heap); the only unpartitioned window ranks the k-row
  result, never the corpus""",
      graft.search.Search.searchTitledb(titledb.toDF, "section leaf", 10))

    val sdocs = spark.range(64).select(col("id").as("doc_id"),
      concat_ws(" ", lit("spark hash merge filler words body"),
        col("id").cast("string")).as("text"),
      (col("id") % 8).cast("string").as("source"))
    section("search gigabits (q10): top-k semi-join → per-doc proximity fold → master merge",
      """What to look for (r6 shape):
- every stage after the top-k touches tokens of the k RESULT docs only
  (left-semi on the top-k) — no corpus rescan
- candidate x match proximity is a per-doc array program (the
  hashExcerpt posPtr walk: nearest-match min + QTR zone bonus per
  candidate token, row-local) feeding one bounded occ explode; only
  the cross-doc master merge hash-aggregates remain
- the final rank is a bounded TakeOrderedAndProject""",
      graft.search.Search.searchGigabits(sdocs, "doc_id", "text", "source",
        "spark hash merge", 10))
    section("search pair-min (q12): corpus stats aggregate ⋈ per-doc maximin fold",
      """What to look for (r6 shape):
- ONE full-corpus aggregate computes N + per-term document
  frequencies in a single row, attached by BroadcastNestedLoopJoin
  (never collected on the driver — the r5 per-query docs.count()
  action is gone)
- the occurrence-pair maximin is a nested array fold over the
  per-term position lists inside the scan's codegen — no postings
  self-join, no per-pair hash aggregates""",
      graft.search.Search.searchPairMinTopK(sdocs, "doc_id", "text", "source",
        "spark hash merge", 10))

    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), out.toString)
    println(s"PLANS.md written (${out.length} chars)")
    spark.stop()
  }

  /** Plan text without what changes from run to run: expression ids
    * (`uh48#12537L`) and `plan_id`s renumbered from 1 in order of first
    * use, the temp workdir written as `<workdir>`, and JVM object
    * identities (`Crawl$$$Lambda$5704/0x00007f14655fac20@1288c40a`,
    * `ReduceAggregator@4e38213`) without their numbers. A regenerated
    * PLANS.md then differs only where a plan did. */
  def normalize(plan: String, workdir: String): String = {
    def renumber(s: String, re: scala.util.matching.Regex, prefix: String): String = {
      val ids = scala.collection.mutable.HashMap[String, Int]()
      re.replaceAllIn(s, m => prefix + ids.getOrElseUpdate(m.group(1), ids.size + 1))
    }
    val anonymous = plan.replace(workdir, "<workdir>")
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("(?<=[\\w$])@[0-9a-f]+\\b", "@<id>")
    renumber(renumber(anonymous, "#(\\d+)".r, "#"), "plan_id=(\\d+)".r, "plan_id=")
  }
}
