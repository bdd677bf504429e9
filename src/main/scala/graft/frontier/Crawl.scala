package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.core.{GbHash, GbLinks, GbUrl, GbXml, Robots}
import graft.rules._

/** The crawl engine: URL frontier + fetch scheduler as iterative Spark
  * batch jobs over snapshot tables (SURVEY.md §3.1 Spark mapping).
  *
  * One iteration (`runIteration`) runs in named phases — load, schedule,
  * fetch, admit, commit — and is not one job: the phases' actions, the
  * concurrent snapshot writes and their planning add up to about 28
  * Spark jobs per iteration on the 256-host corpus. The data flow:
  * {{{
  * requests ⟕ latestReply (J1, sort-merge on uh48)
  *   → merge duplicate requests per uh48 (scanListForWinners dedup,
  *     Spider.cpp:4799-4836: min hopCount / min discoveryTime)
  *   → ufn / priority / nextEligibleTime (F1, A1) with per-IP and
  *     per-domain politeness state joined on first_ip / dom_hash32
  *   → winner top-k per IP (A2: window by first_ip ordered
  *     priority desc, hopCount asc, spiderTime asc, uh48 asc —
  *     the winner-tree key total order, Spider.cpp:3475-3497)
  *   → per-IP outstanding caps (A4, spiderIpMaxSpiders)
  *   → fetch = join against the pages table (S6; sandbox "network"),
  *     robots gate (X5) via per-host broadcast join
  *   → parse/extract (X7-X12) → replies + outlink requests
  *   → admission: bloom-prefiltered anti-join vs the URL-seen set, i.e.
  *     the requests chain's uh48s (J2)
  *   → snapshot append, counters in the snapshot manifest
  * }}}
  *
  * Scale notes (10^10-URL frontier, 1000 executors):
  *  - requests/replies co-partitioned by `uh48` for the J1 join and by
  *    `first_ip` for scheduling — the two shuffles per iteration. At
  *    cluster scale both become bucketed Iceberg sort orders so the
  *    sort-merge join reads pre-sorted buckets with no shuffle.
  *  - the seen-set anti-join is bloom-prefiltered per partition: only
  *    bloom-positive candidates pay the exact join (SURVEY §7 risk 4 —
  *    bloom alone cannot give byte-equality, fp>0).
  *  - per-IP politeness state is O(#IPs) not O(#URLs) (waiting-tree
  *    analogue, Spider.h:135-147) and joins on first_ip.
  *  - hot hosts: A8 overflow guard drops outlink intake for IPs over
  *    `overflowCap` requests; AQE handles residual join skew.
  */
object Crawl {

  final case class Config(
      maxWinnersPerIp: Int = 2000, // MAX_WINNER_NODES, Spider.cpp:60
      clockStepMs: Long = 1000L, // simulated wall-clock advance per iteration
      baseTimeSecs: Long = 1400000000L,
      overflowCap: Long = 10000000L, // A8, Spider.cpp:5185-5265
      bloomFpp: Double = 0.03,
      seenBuckets: Int = 64, // partitioned-bloom buckets (power of 2)
      expectedSeenPerBucket: Long = 200000L,
      rules: IndexedSeq[UrlFilterRule] = UrlFilters.defaultWebRules,
      // A4: per-priority maxSpidersPerRule + global MAX_SPIDERS=300
      // (Spider.cpp:7607-7626, Spider.h:1637). These bound CONCURRENT
      // outstanding downloads on the reference's single node; in this
      // engine an iteration is a politeness TIME SLICE whose per-IP
      // fetches are sequential (hammer spacing), so the caps are opt-in:
      // applying "300 concurrent" as "300 per batch" would serialize a
      // 10^10-frontier crawl on cluster parallelism the reference never
      // had. Enable for single-node-faithful dole behavior.
      enforceDoleCaps: Boolean = false,
      maxSpidersGlobal: Int = 300, // MAX_SPIDERS, Spider.h:1637
      // F6: site-list lines (PageBasic.cpp grammar; empty → insitelist
      // always matches). Non-empty lists route scheduling through the
      // reference-exact interpreter (pattern matching isn't compiled).
      siteList: Seq[String] = Nil,
      // matchesucp/matchesupp collection patterns (Spider.cpp:11714-11777)
      patterns: CrawlPatterns = CrawlPatterns(),
      // A9: crawl limits driving the SP_* status taxonomy
      // (CollectionRec m_maxToCrawl / m_maxCrawlRounds; the reference
      // stops doling and flips m_spiderStatus when a cap is reached)
      maxToCrawl: Long = -1L, // stop once successful downloads reach this
      maxRounds: Int = -1 // stop after this many spider rounds (<=0: no limit, like m_maxCrawlRounds)
  )

  /** tagdb: cap on the distinct inlinking c-blocks tracked per SITE (the
    * Msg25 "good inlinks, 1 per c block" analogue; the reference bounds
    * work per site via Msg25's inlink limits — LinkInfo.cpp
    * maxNumInlinks order of magnitude, not a hard constant). */
  val SiteInlinkCap = 128

  def nowSecs(cfg: Config, iteration: Int): Long = cfg.baseTimeSecs + iteration * (cfg.clockStepMs / 1000L).max(1L)
  def nowMs(cfg: Config, iteration: Int): Long = nowSecs(cfg, iteration) * 1000L

  // ------------------------------------------------------------- seeding

  /** S1: SpiderRequest::setFromAddUrl (Spider.cpp:14925-14970) — fake
    * firstIp from the probable docId, hop 0, isAddUrl|isNewOutlink. */
  def seedRequest(rawUrl: String, nowSecs: Long): Option[FrontierRequest] = {
    val u = GbUrl.parse(rawUrl)
    if (!u.isValid) return None
    val flags = Flags.IsAddUrl | Flags.IsNewOutlink | Flags.FakeFirstIp |
      (if (u.hasMediaExtension) Flags.HasMediaExtension else 0L) |
      (if (u.isWWWSubdomain) Flags.IsWWWSubdomain else 0L) |
      (if (u.isPingServer) Flags.IsPingServer else 0L)
    Some(FrontierRequest(
      uh48 = u.uh48,
      first_ip = u.fakeFirstIp,
      url = u.url,
      host_hash32 = u.hostHash32,
      dom_hash32 = u.domHash32,
      site_hash32 = u.hostHash32, // site == host by default (no tagdb)
      site_num_inlinks = -1,
      added_time = nowSecs,
      discovery_time = nowSecs,
      hop_count = 0,
      parent_lang = "",
      flags = flags,
      err_count = 0,
      parent_doc_id = 0L
    ))
  }

  def seeds(spark: SparkSession, urls: Seq[String], cfg: Config): Dataset[FrontierRequest] = {
    import spark.implicits._
    val t = nowSecs(cfg, 0)
    spark.createDataset(urls.flatMap(seedRequest(_, t)))
  }

  // --------------------------------------------------------- scheduling

  /** The evaluation context bridge: FrontierRequest(+reply) → UfnRequest. */
  private def toUfn(r: FrontierRequest): UfnRequest = UfnRequest(
    url = r.url,
    hopCount = r.hop_count,
    hopCountValid = true,
    addedTime = r.added_time,
    discoveryTime = r.discovery_time,
    pageNumInlinks = 0,
    siteNumInlinks = r.site_num_inlinks,
    parentLang = r.parent_lang,
    hostHash32 = r.host_hash32,
    domHash32 = r.dom_hash32,
    errCount = r.err_count,
    isAddUrl = Flags.has(r.flags, Flags.IsAddUrl),
    isInjecting = Flags.has(r.flags, Flags.IsInjecting),
    isPageReindex = Flags.has(r.flags, Flags.IsPageReindex),
    isNewOutlink = Flags.has(r.flags, Flags.IsNewOutlink),
    isRSSExt = Flags.has(r.flags, Flags.IsRSSExt),
    isUrlPermalinkFormat = Flags.has(r.flags, Flags.IsUrlPermalinkFormat),
    parentIsRSS = Flags.has(r.flags, Flags.ParentIsRSS),
    parentIsSiteMap = Flags.has(r.flags, Flags.ParentIsSiteMap),
    parentIsPingServer = Flags.has(r.flags, Flags.ParentIsPingServer),
    isPingServer = Flags.has(r.flags, Flags.IsPingServer),
    hasMediaExtension = Flags.has(r.flags, Flags.HasMediaExtension),
    fakeFirstIp = Flags.has(r.flags, Flags.FakeFirstIp),
    hadReply = Flags.has(r.flags, Flags.HadReply),
    wasParentIndexed = Flags.has(r.flags, Flags.WasParentIndexed),
    siteHash32 = r.site_hash32
  )

  private def toUfnReply(r: FrontierReply): UfnReply = UfnReply(
    spideredTime = r.spidered_time,
    errCode = r.err_code,
    errCount = r.err_count,
    httpStatus = r.http_status,
    lang = r.lang,
    siteNumInlinks = -1,
    percentChangedPerDay = r.percent_changed_per_day,
    isRSS = Flags.has(r.flags, Flags.RepIsRSS),
    isPermalink = Flags.has(r.flags, Flags.RepIsPermalink),
    isIndexed = Flags.has(r.flags, Flags.RepIsIndexed)
  )

  /** Latest reply per (firstIp, uh48) — the reply key carries the IP
    * (Spider.h:370-377, reply parentDocId=0 Spider.cpp:817-819). */
  def latestReplies(replies: Dataset[FrontierReply]): Dataset[FrontierReply] = {
    import replies.sparkSession.implicits._
    replies.groupByKey(r => (r.first_ip, r.uh48)).reduceGroups { (a, b) =>
      if (a.spidered_time > b.spidered_time) a
      else if (b.spidered_time > a.spidered_time) b
      else if (a.download_end_time >= b.download_end_time) a else b
    }.map(_._2)
  }

  /** Merge duplicate requests per (firstIp, uh48) (Spider.cpp:4799-4836):
    * min hopCount, min discoveryTime, OR of flags, freshest addedTime. */
  def mergedRequests(requests: Dataset[FrontierRequest]): Dataset[FrontierRequest] = {
    import requests.sparkSession.implicits._
    requests.groupByKey(r => (r.first_ip, r.uh48)).reduceGroups { (a, b) =>
      val base = if (a.added_time >= b.added_time) a else b
      base.copy(
        hop_count = math.min(a.hop_count, b.hop_count),
        discovery_time = math.min(a.discovery_time, b.discovery_time),
        flags = a.flags | b.flags,
        site_num_inlinks = math.max(a.site_num_inlinks, b.site_num_inlinks),
        err_count = math.max(a.err_count, b.err_count)
      )
    }.map(_._2)
  }

  /** F1+A1 scoring joined row. */
  final case class Scored(req: FrontierRequest, ufn: Int, priority: Int,
                          spiderTimeMs: Long, forceDelete: Boolean,
                          ipMaxSpiders: Int, ipWaitMs: Int,
                          wasIndexed: Boolean = false)

  /** F7 request-side corruption predicate (Spider.cpp:4466-4507), applied
    * at scan time so one bad delta row can't poison scheduling: url
    * must start "http" (or a digit — pagereindex docid) and addedTime
    * must not be >1 day in the future. */
  private[graft] def requestsFiltered(df: DataFrame, now: Long): DataFrame =
    df.filter(
      (col("url").startsWith("http") ||
        (substring(col("url"), 1, 1) >= "0" && substring(col("url"), 1, 1) <= "9")) &&
      (col("added_time") - lit(now)) <= 86400L)

  /** F7 reply-side corruption predicate (Spider.cpp:4113-4155): future
    * spideredTime (> now+1) or httpStatus ≥ 1000 → skip the record, so
    * an older good reply (or none) is used instead. (The reference's
    * langId-byte check has no analogue here: lang is a string column and
    * cannot hold an out-of-enum byte.) */
  private[graft] def repliesFiltered(df: DataFrame, now: Long): DataFrame =
    df.filter(col("spidered_time") <= lit(now + 1) && col("http_status") < 1000)

  /** A4 dole caps (opt-in, see Config.enforceDoleCaps): per-priority cap
    * = max maxSpidersPerRule over rules with that priority
    * (Spider.cpp:7607-7626), then the global MAX_SPIDERS bound. Dropped
    * rows leave gaps in seq_in_ip, which only widens hammer spacing. */
  private def applyDoleCaps(batch: Dataset[FetchTask], cfg: Config): Dataset[FetchTask] = {
    import batch.sparkSession.implicits._
    val priCap = cfg.rules.groupBy(_.priority).map { case (p, rs) => p -> rs.map(_.maxSpidersPerRule).max }
    doleCapsDF(batch.toDF(), priCap, cfg.maxSpidersGlobal).as[FetchTask]
  }

  /** The A4 cap kernel on any frame with (priority, first_ip,
    * spider_time_ms, uh48) columns — split out of `applyDoleCaps` so the
    * driver oracle (`a4_dole_caps`) can exercise it against a plain SQL
    * re-statement. `priCap` maps priority → max maxSpidersPerRule of the
    * rules at that priority (Spider.cpp:7607-7626). */
  def doleCapsDF(batch: DataFrame, priCap: Map[Int, Int], maxGlobal: Int): DataFrame = {
    val capExpr = coalesce(
      element_at(map(priCap.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*), col("priority")),
      lit(0))
    // scale shape (VERDICT r3 #10): pre-cap per (priority, first_ip)
    // BEFORE the per-priority window. The per-priority partition is
    // <=128 groups — one task per priority would otherwise buffer every
    // row of that priority. A row ranked > cap inside its own
    // (priority, ip) group is preceded globally by >= cap rows of that
    // same group, so it can never survive the priority cap: the pre-cap
    // is exact, and it bounds the wide window's input at cap x #IPs.
    val wpi = Window.partitionBy(col("priority"), col("first_ip"))
      .orderBy(col("spider_time_ms").asc, col("uh48").asc)
    val wp = Window.partitionBy(col("priority"))
      .orderBy(col("spider_time_ms").asc, col("uh48").asc, col("first_ip").asc)
    batch
      .withColumn("iprank", row_number().over(wpi))
      .filter(col("iprank") <= capExpr)
      .drop("iprank")
      .withColumn("prank", row_number().over(wp))
      .filter(col("prank") <= capExpr)
      .drop("prank")
      .orderBy(col("priority").desc, col("spider_time_ms").asc, col("uh48").asc)
      .limit(maxGlobal) // TakeOrderedAndProject, no full sort
  }

  /** Does the rule profile reference an A6 quota token? Mirrors the
    * reference's m_countingPagesIndexed gate (Spider.cpp:3598-3600:
    * quota tables are built only "if doing site or page quotes"). */
  def quotasEnabled(rules: IndexedSeq[UrlFilterRule]): Boolean =
    rules.exists(r => r.expr.contains("sitepages") || r.expr.contains("domainpages") ||
      r.expr.contains("siteadds") || r.expr.contains("domainadds"))

  /** Schedule: produce this iteration's fetch batch (doledb analogue).
    * Fully native Catalyst pipeline — rule table compiled to
    * when/otherwise columns (whole-stage codegen, no per-row objects);
    * falls back to the reference-exact interpreter if the rule table has
    * tokens the compiler doesn't support. */
  def schedule(requests: Dataset[FrontierRequest],
               replies: Dataset[FrontierReply],
               ipState: Dataset[IpState],
               domState: Dataset[DomState],
               cfg: Config,
               iteration: Int,
               inlinks: Dataset[InlinkState] = null,
               quota: DataFrame = null): Dataset[FetchTask] = {
    import requests.sparkSession.implicits._
    val nowMillis = nowMs(cfg, iteration)
    compiledScored(requests, replies, ipState, domState, cfg, iteration, inlinks, None,
      wantLb = false) match {
      case None => scheduleInterpreted(requests, replies, ipState, domState, cfg, iteration,
        Option(inlinks).getOrElse(requests.sparkSession.emptyDataset[InlinkState]), quota)
      case Some(scored) =>
        val eligible = scored.filter(!col("force_delete") && col("spider_time_ms") <= nowMillis)
        val batch = graft.plans.WinnerDole(
          doleInput(eligible).drop("force_delete", "next_lb"),
          kEff(cfg), cfg.maxWinnersPerIp).as[FetchTask]
        if (cfg.enforceDoleCaps) applyDoleCaps(batch, cfg) else batch
    }
  }

  /** Result of [[scheduleWake]]: `dole` holds the fetch batch rows
    * (seq_in_ip >= 0) plus, when `wake` is true, one waiting-tree
    * sentinel per scanned IP (seq_in_ip == -1, spider_time_ms = that
    * IP's next-eligible lower bound). `dueIps` is the pre-scan due set
    * (None on the bootstrap full scan or when pruning is off). */
  final case class ScheduleOut(dole: DataFrame, wake: Boolean, dueIps: Option[DataFrame])

  /** A3: the waiting-tree analogue (Spider.cpp:2503-2724 addToWaitingTree,
    * :3160 populateDoledbFromWaitingTree, Spider.h:135-147). The reference
    * never rescans all of spiderdb per dole cycle: it keeps one
    * earliest-eligible time per firstIp and reads only the slices of IPs
    * whose time has arrived. Here: `ipNext` (first_ip → next_ms lower
    * bound) prunes the frontier scan to DUE IPs with a semi-join BEFORE
    * scoring, and the dole operator emits a refreshed per-IP minimum for
    * every IP it scanned (sentinel rows). The bound excludes the
    * dom-crawl-delay term (which can change via a sibling host without
    * touching this IP — dropping a max() term keeps it a LOWER bound, so
    * pruning stays EXACT: a pruned IP provably has no eligible row).
    *
    * Pruning is gated off (full scan, sentinels still emitted so the
    * table bootstraps) when the rule table leaves the compiled path, or
    * uses clock-dependent tokens (spiderwaited/urlage: a row's ufn can
    * then change with no state transition touching its IP), or when dole
    * caps are on (they cut across IPs). */
  def scheduleWake(requests: Dataset[FrontierRequest],
                   replies: Dataset[FrontierReply],
                   ipState: Dataset[IpState],
                   domState: Dataset[DomState],
                   cfg: Config,
                   iteration: Int,
                   inlinks: Dataset[InlinkState],
                   quota: DataFrame,
                   ipNext: Option[DataFrame]): ScheduleOut = {
    import requests.sparkSession.implicits._
    val nowMillis = nowMs(cfg, iteration)
    if (cfg.enforceDoleCaps || !wakeSafeRules(cfg))
      return ScheduleOut(
        schedule(requests, replies, ipState, domState, cfg, iteration, inlinks, quota).toDF(),
        wake = false, dueIps = None)
    val dueIps = ipNext.map(_.filter(col("next_ms") <= nowMillis).select("first_ip"))
    compiledScored(requests, replies, ipState, domState, cfg, iteration, inlinks, dueIps,
      wantLb = true) match {
      case None => // interpreter needed after all → no wake maintenance
        ScheduleOut(
          scheduleInterpreted(requests, replies, ipState, domState, cfg, iteration,
            Option(inlinks).getOrElse(requests.sparkSession.emptyDataset[InlinkState]), quota).toDF(),
          wake = false, dueIps = None)
      case Some(scored) =>
        val in = doleInput(scored)
          .withColumn("eligible", !col("force_delete") && col("spider_time_ms") <= nowMillis)
          // a force-deleted row never schedules, so it must not hold its
          // IP awake either (it only leaves via compaction)
          .withColumn("next_lb", when(col("force_delete"), Long.MaxValue).otherwise(col("next_lb")))
          .drop("force_delete")
        ScheduleOut(graft.plans.WinnerDole.wake(in, kEff(cfg), cfg.maxWinnersPerIp), wake = true, dueIps)
    }
  }

  /** Heap truncation: ip_max is element_at(<static rule table>, ufn)
    * (RuleCompiler:186), so no row survives the dole cap at
    * pos >= max(ipMaxSpiders over the table). Keeping more than that in
    * the heap only to throw it away cost the r3 kernel ~5x state volume
    * (default table: max ipms = 7, not MAX_WINNER_NODES=2000). */
  private def kEff(cfg: Config): Int = math.min(cfg.maxWinnersPerIp,
    math.max(1, cfg.rules.map(_.ipMaxSpiders).max))

  /** Due-IP pruning is only exact when a row's (ufn, spider time) cannot
    * change without a state transition that touches its IP. The compiled
    * token set guarantees that except for the clock-relative tokens. */
  def wakeSafeRules(cfg: Config): Boolean =
    !cfg.rules.exists(r => r.expr.contains("spiderwaited") || r.expr.contains("urlage"))

  /** The 12 dole-input columns (+ next_lb in the wake path). */
  private def doleInput(scored: DataFrame): DataFrame = scored
    .withColumn("was_indexed_in", col("rep_exists") && col("rep_err_code") === 0)
    .select(col("first_ip"), col("uh48"), col("url"), col("priority"),
      col("ufn"), col("spider_time_ms"), col("hop_count"), col("ip_max"),
      col("was_indexed_in"), col("flags"), col("site_hash32"), col("dom_hash32"),
      col("force_delete"), col("next_lb"))

  /** Compiled scoring pipeline up to the PRE-eligibility-filter `scored`
    * DataFrame (None → rule table needs the interpreter). With `dueIps`,
    * the frontier scan is semi-joined on the due set BEFORE the exchange
    * (A3 waiting-tree pruning). */
  private def compiledScored(requests: Dataset[FrontierRequest],
                             replies: Dataset[FrontierReply],
                             ipState: Dataset[IpState],
                             domState: Dataset[DomState],
                             cfg: Config,
                             iteration: Int,
                             inlinks: Dataset[InlinkState],
                             dueIps: Option[DataFrame],
                             wantLb: Boolean): Option[DataFrame] = {
    val spark = requests.sparkSession
    import spark.implicits._
    val now = nowSecs(cfg, iteration)
    val inl = Option(inlinks).getOrElse(spark.emptyDataset[InlinkState])
    val sl = new SiteList(cfg.siteList)

    val c = RuleCompiler.Cols(
      url = col("url"), hopCount = col("hop_count"), flags = col("flags"),
      addedTime = col("added_time"), discoveryTime = col("discovery_time"),
      siteNumInlinks = col("site_num_inlinks"),
      pageNumInlinks = col("page_num_inlinks"),
      repExists = col("rep_exists"), repSpideredTime = col("rep_spidered_time"),
      repErrCode = col("rep_err_code"), repErrCount = col("rep_err_count"),
      repHttpStatus = col("rep_http_status"), now = lit(now))

    RuleCompiler.compile(cfg.rules, c, siteListEmpty = sl.isEmpty, patterns = cfg.patterns).map { compiled =>
      // merge duplicate requests per uh48 with native aggregates
      // (Spider.cpp:4799-4836: min hop, min discovery, freshest rest)
      // spiderdb is keyed (firstIp, uh48) — Spider.h:370-377 — and this
      // engine maintains UNIQUENESS on that key at write time: fresh
      // candidates are deduped per uh48 within a batch (J4) and
      // anti-joined against every prior uh48 (J2), and compaction (J3)
      // re-establishes the invariant after any out-of-band append. So
      // the reference's scan-time duplicate merge (Spider.cpp:4799-4836,
      // done lazily there because its writes are blind LSM appends) is
      // a no-op here and the hot path skips it — one exchange total:
      // repartition by first_ip satisfies the reply join and the winner
      // dole. scheduleInterpreted keeps the merge for generality.
      // inlink_state is keyed (first_ip, uh48) — co-partitioned with
      // the frontier, so only the small inlink side shuffles here.
      val inlCounts = inl.toDF()
        .select(col("first_ip"), col("uh48"),
          least(size(col("cblocks")), lit(20)).as("pni"))
      val base = requestsFiltered(requests.toDF(), now) // F7
      // A3 due-IP pruning: ONLY the due slices of the frontier are
      // scanned/scored — the semi-join sits below the exchange so
      // non-due rows never shuffle
      val pruned = dueIps match {
        case Some(due) => base.join(due, Seq("first_ip"), "left_semi")
        case None => base
      }
      val merged = pruned
        .repartition(col("first_ip"))
        .join(inlCounts, Seq("first_ip", "uh48"), "left_outer")
        .withColumn("page_num_inlinks", coalesce(col("pni"), lit(0)))

      // latest reply per uh48: lexicographic struct max on
      // (spidered_time, download_end_time) — no object shuffle.
      // A3 due-IP pruning on the REPLY side too: J1 joins on
      // (first_ip, uh48) and non-due requests are discarded above, so
      // a non-due IP's replies can never reach the output — the
      // semi-join below the aggregate is exact, and the reply scan +
      // latest-reply shuffle become O(due slices) instead of
      // O(crawled), matching the reference's per-IP spiderdb read
      // which covers that IP's requests AND replies in one list
      // (Spider.cpp:3805 readListFromSpiderdb; key layout
      // Spider.h:370-377).
      val repBase = repliesFiltered(replies.toDF(), now) // F7
      val repPruned = dueIps match {
        case Some(due) => repBase.join(due, Seq("first_ip"), "left_semi")
        case None => repBase
      }
      val latestRep = repPruned
        .groupBy("first_ip", "uh48").agg(
        max(struct(col("spidered_time"), col("download_end_time"),
          col("err_code"), col("err_count"), col("http_status"))).as("r"))
        .select(col("first_ip").as("rep_ip"), col("uh48").as("rep_uh48"),
          col("r.spidered_time").as("rep_spidered_time"),
          col("r.err_code").as("rep_err_code"),
          col("r.err_count").as("rep_err_count"),
          col("r.http_status").as("rep_http_status"))

      val joined = merged
        .join(latestRep, col("uh48") === col("rep_uh48") && col("first_ip") === col("rep_ip"), "left_outer")
        .withColumn("rep_exists", col("rep_uh48").isNotNull)
        .withColumn("rep_spidered_time", coalesce(col("rep_spidered_time"), lit(0L)))
        .withColumn("rep_err_code", coalesce(col("rep_err_code"), lit(0)))
        .withColumn("rep_err_count", coalesce(col("rep_err_count"), lit(0)))
        .withColumn("rep_http_status", coalesce(col("rep_http_status"), lit(0)))
        .withColumn("flags",
          when(col("rep_exists"), col("flags").bitwiseOR(lit(Flags.HadReply))).otherwise(col("flags")))
        .join(ipState.toDF().withColumnRenamed("first_ip", "ip_key"),
          col("first_ip") === col("ip_key"), "left_outer")
        .join(domState.toDF().withColumnRenamed("dom_hash32", "dom_key"),
          col("dom_hash32") === col("dom_key"), "left_outer")

      val lastMs = coalesce(col("last_download_end_ms"), lit(-1L))
      val domCd = coalesce(col("crawl_delay_ms"), lit(-1))
      val spiderTime = RuleCompiler.spiderTimeCol(c, compiled, lastMs, domCd)
      // the waiting-tree lower bound: same formula MINUS the dom-crawl-
      // delay max() term (see scheduleWake scaladoc)
      // Catalyst does NOT prune this second full rule-table expression
      // in the non-wake path (measured: schedule kernel 1.6M -> 3.1M
      // urls/sec at local[8] with it gone) — only build it when the
      // wake pass will actually consume it
      val nextLb = if (wantLb) RuleCompiler.spiderTimeCol(c, compiled, lastMs, lit(-1)) else lit(0L)

      // A2: winner selection runs downstream as the BOUNDED-heap custom
      // operator (plans.WinnerDole — the winner-tree analogue,
      // MAX_WINNER_NODES): O(k) state per IP in one streamed pass,
      // instead of the window's per-IP full sort, which buffers an
      // entire skewed IP in one task at 100 TB.
      joined
        .withColumn("ufn", compiled.ufn)
        .withColumn("priority", compiled.priority)
        .withColumn("force_delete", compiled.forceDelete)
        .withColumn("ip_max", compiled.ipMaxSpiders)
        .withColumn("spider_time_ms", spiderTime)
        .withColumn("next_lb", nextLb)
    }
  }

  /** Reference-exact interpreted path (kept as compiler fallback and as
    * the cross-validation baseline). */
  def scheduleInterpreted(requests: Dataset[FrontierRequest],
               replies: Dataset[FrontierReply],
               ipState: Dataset[IpState],
               domState: Dataset[DomState],
               cfg: Config,
               iteration: Int,
               inlinks: Dataset[InlinkState] = null,
               quota: DataFrame = null): Dataset[FetchTask] = {
    val spark = requests.sparkSession
    import spark.implicits._
    val now = nowSecs(cfg, iteration)
    val nowMillis = nowMs(cfg, iteration)
    val rules = cfg.rules
    val inl = Option(inlinks).getOrElse(spark.emptyDataset[InlinkState])
    // collection context: site list + crawl patterns (F6/F4)
    val sl = new SiteList(cfg.siteList)
    val quotaOn = quota != null && quotasEnabled(rules)
    val ctx = RuleCtx(sl.isEmpty,
      u => sl.matchingPattern(GbUrl.parse(u)),
      (u, t) => sl.matchingPattern(GbUrl.parse(u), t),
      cfg.patterns,
      quotaValid = quotaOn)

    val reqs = mergedRequests(requestsFiltered(requests.toDF(), now).as[FrontierRequest])
    val reps = latestReplies(repliesFiltered(replies.toDF(), now).as[FrontierReply])

    // J1: request ⟕ latest reply, sort-merge on (first_ip, uh48)
    val joined = reqs.joinWith(reps,
      reqs("uh48") === reps("uh48") && reqs("first_ip") === reps("first_ip"), "left_outer")

    // politeness state joins (first_ip, dom_hash32) — both tiny vs frontier
    val withIp = joined
      .toDF("req", "rep")
      .join(ipState.toDF().withColumnRenamed("first_ip", "ip_key"),
        col("req.first_ip") === col("ip_key"), "left_outer")
      .join(inl.toDF()
          .select(col("first_ip").as("il_ip"), col("uh48").as("il_uh48"),
            least(size(col("cblocks")), lit(20)).as("pni")),
        col("req.first_ip") === col("il_ip") && col("req.uh48") === col("il_uh48"), "left_outer")
      .join(domState.toDF().withColumnRenamed("dom_hash32", "dom_key"),
        col("req.dom_hash32") === col("dom_key"), "left_outer")

    // A6 quota lookups (4 keys per request against the small quota_state
    // dimension — auto-broadcast; the reference keeps the same table in
    // shard RAM, Spider.cpp m_localTable/quotaTable). Missing key → 0.
    val withQuota =
      if (!quotaOn)
        withIp.withColumn("q_sp", lit(0)).withColumn("q_da", lit(0))
          .withColumn("q_dp", lit(0)).withColumn("q_sa", lit(0))
      else {
        def qj(df: DataFrame, keyCol: org.apache.spark.sql.Column, out: String) =
          df.join(quota.select(col("key").as(s"k_$out"), col("n").as(s"n_$out")),
            keyCol === col(s"k_$out"), "left_outer")
            .withColumn(out, coalesce(col(s"n_$out").cast("int"), lit(0)))
            .drop(s"k_$out", s"n_$out")
        var df = withIp
        df = qj(df, col("req.site_hash32"), "q_sp")
        df = qj(df, col("req.dom_hash32"), "q_dp")
        df = qj(df, col("req.site_hash32").bitwiseXOR(lit(0x123456)), "q_sa")
        df = qj(df, col("req.dom_hash32").bitwiseXOR(lit(0x123456)), "q_da")
        df
      }

    val selected = withQuota
      .select(
        col("req").as[FrontierRequest],
        col("rep").as[FrontierReply],
        struct(
          coalesce(col("last_download_end_ms"), lit(-1L)).as("last_ms"),
          coalesce(col("crawl_delay_ms"), lit(-1)).as("dom_cd"),
          coalesce(col("pni"), lit(0)).as("pni")).as[(Long, Int, Int)],
        struct(col("q_sp"), col("q_dp"), col("q_sa"), col("q_da")).as[(Int, Int, Int, Int)]
      )

    val scored = selected.map { case (req, repOrNull, (lastMs, domCd, pni), (qsp, qdp, qsa, qda)) =>
      val rep = Option(repOrNull)
      // hadReply must reflect reality even before compaction set the bit
      val reqFixed =
        if (rep.isDefined && !Flags.has(req.flags, Flags.HadReply))
          req.copy(flags = req.flags | Flags.HadReply)
        else req
      val ur = toUfn(reqFixed).copy(pageNumInlinks = pni,
        sitePages = qsp, domainPages = qdp, siteAdds = qsa, domainAdds = qda)
      val urep = rep.map(toUfnReply)
      val ufn = UrlFilters.urlFilterNumCtx(ur, urep, now, rules, ctx)
      if (ufn < 0) Scored(reqFixed, -1, -1, Long.MaxValue, forceDelete = true, 0, 0, wasIndexed = false)
      else {
        val rule = rules(ufn)
        val t = UrlFilters.spiderTimeMs(ur, ufn, urep, rules, lastMs, domCd)
        Scored(reqFixed, ufn, rule.priority, t, rule.forceDelete, rule.ipMaxSpiders, rule.ipWaitMs,
          wasIndexed = rep.exists(_.err_code == 0))
      }
    }

    // A2+A4: winner selection per IP in doledb key order
    // (255-priority, spiderTime, uh48 — Spider.h:1133-1157; winner-tree
    // tie-breaks priority desc, hopCount asc, time asc, Spider.cpp:4856-4893)
    val eligible = scored
      .filter(s => !s.forceDelete && s.spiderTimeMs <= nowMillis)
      .map(s => (s.req.uh48, s.req.first_ip, s.req.url, s.priority, s.ufn, s.spiderTimeMs, s.req.hop_count, s.ipMaxSpiders, s.wasIndexed, s.req.flags, s.req.site_hash32, s.req.dom_hash32))
      .toDF("uh48", "first_ip", "url", "priority", "ufn", "spider_time_ms", "hop_count", "ip_max", "was_indexed", "req_flags", "site_hash32", "dom_hash32")

    val w = Window.partitionBy(col("first_ip"))
      .orderBy(col("priority").desc, col("hop_count").asc, col("spider_time_ms").asc, col("uh48").asc)
    val batch = eligible
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= least(col("ip_max"), lit(cfg.maxWinnersPerIp)))
      .withColumn("seq_in_ip", col("rank") - 1)
      .select(col("uh48"), col("first_ip"), col("url"), col("priority"), col("ufn"),
        col("spider_time_ms"), col("hop_count"), col("seq_in_ip").cast("int"), col("was_indexed"),
        col("req_flags"), col("site_hash32"), col("dom_hash32"))
      .as[FetchTask]
    if (cfg.enforceDoleCaps) applyDoleCaps(batch, cfg) else batch
  }

  // -------------------------------------------------------------- fetch

  final case class FetchResult(
      task: FetchTask,
      found: Boolean,
      allowed: Boolean,
      crawlDelayMs: Int,
      httpStatus: Int,
      errCode: Int,
      lang: String,
      contentHash32: Int,
      downloadEndMs: Long,
      outlinks: Seq[FrontierRequest],
      extractedText: String,
      isRSS: Boolean = false,       // Xml::isRSSFeed on the parse
      isPermalink: Boolean = false, // ::isPermalink (links-free shape)
      isSiteMap: Boolean = false,   // filename == sitemap.xml (getIsSiteMap)
      html: Array[Byte] = null,     // raw page bytes (titledb payload, S7)
      // getPercentChanged (XmlDoc.cpp:9804-9824): similarity of old vs
      // new page sample vectors — 100 = unchanged, quirk preserved.
      // Only meaningful when an old titledb doc existed (repliesOf gates
      // the per-day rate on the old reply the same way the reference
      // gates on `od`).
      percentChanged: Float = 0f,
      sampleVec: Array[Int] = null  // TitleRec m_pageSampleVec analogue
  )

  /** S6+X5+X7-X12: fetch batch against the pages table, robots-gated,
    * parse and harvest outlinks. The fetch is repartitioned by first_ip so
    * one task owns an IP (Msg13 per-IP consistency, Msg13.cpp:249).
    *
    * Outlinks leave this stage with `first_ip = 0` / `site_num_inlinks
    * = -1`; host→firstIp resolution is a JOIN against host_meta in
    * resolveOutlinks (the Msge1 batch-lookup shape, Msge1.cpp:36) — no
    * O(#hosts) driver-side map, which would OOM the driver at 10^8+
    * hosts. robots stays a plain join: Spark auto-broadcasts it while
    * small; at 10^9 hosts it shuffles on host like any dimension. */
  def fetch(batch: Dataset[FetchTask],
            pages: Dataset[PageRow],
            robots: Dataset[RobotsRow],
            cfg: Config,
            iteration: Int,
            redirClosure: DataFrame = null,
            oldVecs: DataFrame = null): Dataset[FetchResult] = {
    val spark = batch.sparkSession
    import spark.implicits._
    val now = nowSecs(cfg, iteration)
    val nowMillis = nowMs(cfg, iteration)
    val rules = cfg.rules

    // resolve redirects first (precomputed closure, see redirectClosure):
    // the CONTENT fetch and the robots gate apply to the final url
    val withRedir = Option(redirClosure) match {
      case Some(rc) =>
        batch.join(rc, col("url") === col("redir_url"), "left_outer")
          .withColumn("redir_err", coalesce(col("redir_err"), lit(0)))
          .withColumn("eff_url",
            when(col("redir_err") === 0, coalesce(col("redir_final"), col("url")))
              .otherwise(col("url")))
          .drop("redir_url")
      case None =>
        batch.toDF().withColumn("redir_err", lit(0))
          .withColumn("redir_final", lit(null).cast("string"))
          .withColumn("eff_url", col("url"))
    }

    val withHost = withRedir.withColumn("host", graft.functions.GraftFunctions.urlHost(col("eff_url")))

    // old-doc page sample vector (getOldXmlDoc → getPageSampleVector):
    // a SLIM titledb projection (uh48 + the ≤31-int vector) — parquet
    // column pruning keeps this join tiny even when titledb holds bodies
    val ov = Option(oldVecs).getOrElse {
      spark.emptyDataset[(Long, Array[Int])].toDF("uh48", "sample_vec")
    }
    val base = withHost
      .join(robots.toDF().withColumnRenamed("host", "rhost"), col("host") === col("rhost"), "left_outer")
      .join(pages.toDF().select(col("url").as("purl"), col("html"), col("lang").as("plang"),
        col("header_charset").as("pcs"), col("content_type").as("pct")),
        col("eff_url") === col("purl"), "left_outer")

    val ua = Robots.DefaultUserAgent

    // X7 completion: frame/iframe expansion (getExpandedUtf8Content,
    // XmlDoc.cpp:19481-19768). Only frame-BEARING pages (a cheap byte
    // prefilter) take the detour: their candidate frame urls join the
    // pages table (the getExtraDoc "download"), robots-gated like the
    // reference's extra doc, and the spliced raw-utf8 parent comes back
    // as one column keyed by uh48. Everything else pays nothing.
    // slim frame-parent projection: (uh48, eff_url) ⋈ pages only —
    // branching off `base` would recompute the full robots+pages join
    // once per frame subtree; pages is persisted by the caller, so this
    // extra slim join is a cache read
    val parentSlim = withHost.select(col("uh48"), col("eff_url"))
      .join(pages.toDF().select(col("url").as("pp_url"), col("html"),
          col("header_charset").as("pp_cs")),
        col("eff_url") === col("pp_url"), "inner")
      .select(col("uh48"), col("eff_url"), col("html"), col("pp_cs"))
    val frameCands = parentSlim
      .as[(Long, String, Array[Byte], String)]
      .flatMap { case (uh, eu, html, cs) =>
        if (!graft.core.GbIframe.mayHaveFrames(html)) Nil
        else {
          val raw = graft.core.GbCharset.toUtf8(html, graft.core.GbCharset.fromHttpHeader(cs))
          graft.core.GbIframe.candidates(raw, GbUrl.parse(eu)).map(c => (uh, c.url))
        }
      }.toDF("f_uh48", "f_src")
    // no dropDuplicates: expand() keys fetched contents by url, so
    // duplicate (uh48, src) pairs collapse in the map — a distinct here
    // was one more shuffle per iteration for nothing
    val frameContents = frameCands
      .join(pages.toDF().select(col("url").as("fp_url"), col("html").as("fp_html"),
          col("header_charset").as("fp_cs")),
        col("f_src") === col("fp_url"), "inner") // 404 frames drop out (nukeDoc-continue)
      .withColumn("f_host", graft.functions.GraftFunctions.urlHost(col("f_src")))
      .join(robots.toDF().select(col("host").as("fr_host"), col("body").as("fr_body")),
        col("f_host") === col("fr_host"), "left_outer")
      .select(col("f_uh48").as[Long], col("f_src").as[String],
        col("fp_html").as[Array[Byte]],
        struct(col("fr_body").as("rb"), col("fp_cs").as("cs")).as[(Array[Byte], String)])
      .flatMap { case (uh, src, fhtml, (fRobots, fcs)) =>
        val fu = GbUrl.parse(src)
        val pathCgi = if (fu.isValid) fu.url.substring(fu.pathOff) else "/"
        val allowed = fRobots == null || Robots.evaluate(pathCgi, fRobots, ua)._1
        if (!allowed) None // robots-denied frame → no content (XmlDoc.cpp:19747)
        else Some((uh, graft.core.GbIframe.FrameContent(src,
          graft.core.GbCharset.toUtf8(fhtml, graft.core.GbCharset.fromHttpHeader(fcs)),
          fu.extension.equalsIgnoreCase("js"))))
      }.toDF("e_uh48", "fc")
    val expansions = frameContents
      .groupBy("e_uh48").agg(collect_list(col("fc")).as("fcs"))
      .join(parentSlim.select(col("uh48").as("b_uh48"), col("eff_url").as("b_eff"),
          col("html").as("b_html"), col("pp_cs").as("b_cs")),
        col("e_uh48") === col("b_uh48"), "inner")
      .select(col("e_uh48").as[Long], struct(col("b_eff").as("eu"), col("b_cs").as("cs")).as[(String, String)],
        col("b_html").as[Array[Byte]], col("fcs").as[Seq[graft.core.GbIframe.FrameContent]])
      .map { case (uh, (eu, cs), html, fcs) =>
        val raw = graft.core.GbCharset.toUtf8(html, graft.core.GbCharset.fromHttpHeader(cs))
        val m = fcs.map(f => f.url -> f).toMap
        (uh, graft.core.GbIframe.expand(raw, GbUrl.parse(eu), m))
      }.toDF("x_uh48", "expanded")

    val joined = base
      .join(ov.select(col("uh48").as("ov_uh48"), col("sample_vec").as("old_vec")),
        col("uh48") === col("ov_uh48"), "left_outer")
      .join(expansions, col("uh48") === col("x_uh48"), "left_outer")
      .select(
        struct(col("uh48"), col("first_ip"), col("url"), col("priority"), col("ufn"),
          col("spider_time_ms"), col("hop_count"), col("seq_in_ip"), col("was_indexed"),
          col("req_flags"), col("site_hash32"), col("dom_hash32"))
          .as("task").as[FetchTask],
        col("body").as[Array[Byte]],
        col("html").as[Array[Byte]],
        col("plang").as[String],
        struct(col("redir_err"), col("redir_final"), col("old_vec"), col("expanded"), col("pcs"), col("pct"))
          .as[(Int, String, Array[Int], Array[Byte], String, String)]
      )

    joined
      .repartition(col("task.first_ip"))
      .map { case (task, robotsBody, html, plang, (redirErr, redirFinal, oldVec, expanded, pcs, pct)) =>
        // parse the EFFECTIVE url: content/links/robots are evaluated at
        // the redirect target (the reference's current url after follows)
        val effUrl = if (redirErr == 0 && redirFinal != null) redirFinal else task.url
        val u = GbUrl.parse(effUrl)
        val pathCgi = if (u.isValid) u.url.substring(u.pathOff) else "/"
        val (allowed, robotsDelay) =
          if (robotsBody == null) (true, -1)
          else Robots.evaluate(pathCgi, robotsBody, ua)
        // final crawl delay: robots else 250ms (X6, XmlDoc.cpp:14972-15028)
        val cd = if (robotsDelay >= 0) robotsDelay else UrlFilters.DefaultCrawlDelayMs
        val ipWait = if (task.ufn >= 0) rules(task.ufn).ipWaitMs else 1000
        val spacing = math.max(cd.toLong, ipWait.toLong)
        val downloadEnd = nowMillis + (task.seq_in_ip + 1).toLong * spacing

        // CT_PDF → HTML conversion (the reference's pdftohtml pipe;
        // GbPdf scaladoc). Lazy: only PDF rows pay, computed once for
        // both the CT gate and the extraction chain.
        lazy val pdfHtml =
          if (html != null && graft.core.GbHttpMime.contentTypeFromStr(
              if (pct == null || pct.isEmpty) "text/html" else pct) ==
              graft.core.GbHttpMime.CtPdf)
            graft.core.GbPdf.toHtml(html)
          else null

        // the add-url DNS hop (XmlDoc.cpp:2812-2828): a fake-firstIp
        // ADD-URL request is never downloaded — indexDoc short-circuits
        // with EFAKEFIRSTIP, answers the fake request with a reply under
        // the fake ip, and re-adds a revised request under the real ip
        // (XmlDoc.cpp:2617-2691; getRevisedSpiderRequest :2330-2367 —
        // an exact copy with only m_firstIp replaced and the flag
        // cleared). Injections and page reindexes skip this and get
        // genuinely fetched under their request ip. No crawl delay is
        // consumed (XmlDoc.cpp:14687: fakeFirstIp → delay 0).
        if (Flags.has(task.req_flags, Flags.FakeFirstIp) &&
            Flags.has(task.req_flags, Flags.IsAddUrl) &&
            !Flags.has(task.req_flags, Flags.IsInjecting) &&
            !Flags.has(task.req_flags, Flags.IsPageReindex)) {
          FetchResult(task, found = false, allowed = true, -1, 0, Errs.EFAKEFIRSTIP,
            "", 0, nowMillis, Nil, "")
        } else if (redirErr == Errs.EDOCSIMPLIFIEDREDIR) {
          // don't index; re-queue the simpler target KEEPING the parent
          // hop count (XmlDoc.cpp:27758-27767 EDOCSIMPLIFIEDREDIR case;
          // getLinks treats the redir url as a link)
          val lu = GbUrl.parse(redirFinal)
          val requeue =
            if (!lu.isValid || lu.uh48 == task.uh48) Nil
            else {
              val ext = lu.extension.toLowerCase
              var fl = Flags.IsNewOutlink
              if (ext == "rss" || ext == "xml" || ext == "atom") fl |= Flags.IsRSSExt
              if (lu.hasMediaExtension) fl |= Flags.HasMediaExtension
              if (lu.isPingServer) fl |= Flags.IsPingServer
              if (lu.isSimpleSubdomain) fl |= Flags.IsWWWSubdomain
              if (graft.core.GbPermalink.isUrlPermalinkFormat(lu)) fl |= Flags.IsUrlPermalinkFormat
              Seq(FrontierRequest(lu.uh48, 0, lu.url, lu.hostHash32, lu.domHash32,
                lu.hostHash32, -1, now, now, task.hop_count, // hop KEPT
                if (plang == null) "" else plang, fl, 0, task.uh48 & GbHash.DocIdMask))
            }
          FetchResult(task, found = false, allowed = allowed, cd, 301, redirErr,
            "", 0, downloadEnd, requeue, "")
        } else if (redirErr != 0) {
          FetchResult(task, found = false, allowed = allowed, cd, 301, redirErr,
            "", 0, downloadEnd, Nil, "")
        } else if (u.isLinkLoop) {
          // "url is repeating path components" (XmlDoc.cpp:4300-4306)
          FetchResult(task, found = false, allowed = true, cd, 0, Errs.ELINKLOOP,
            "", 0, downloadEnd, Nil, "")
        } else if (u.isBadExtension()) {
          // bad extension with no vouching link text (XmlDoc.cpp:4507-4513;
          // linkdb link text is out of crawl scope, so no-link-text holds)
          FetchResult(task, found = false, allowed = true, cd, 0, Errs.EDOCBADCONTENTTYPE,
            "", 0, downloadEnd, Nil, "")
        } else if (!allowed) {
          FetchResult(task, found = false, allowed = false, cd, 403, Errs.EDOCDISALLOWED,
            "", 0, downloadEnd, Nil, "")
        } else if (html == null) {
          FetchResult(task, found = false, allowed = true, cd, 404, Errs.EDOCBADHTTPSTATUS,
            "", 0, downloadEnd, Nil, "")
        } else if (!graft.core.GbHttpMime.isIndexable(
            graft.core.GbHttpMime.contentTypeFromStr(
              if (pct == null || pct.isEmpty) "text/html" else pct)) &&
            pdfHtml == null) {
          // X17 CT classification of the DOWNLOADED mime: non-text
          // types index as EDOCBADCONTENTTYPE — except CT_PDF, which
          // the reference pipes through pdftohtml (XmlDoc.cpp:18989
          // "filterable", :19192 the pdftohtml command) and indexes;
          // GbPdf is the native converter (no binaries in sandbox).
          // A PDF the converter gets no text from lands here, like the
          // reference freeing empty filter output (XmlDoc.cpp:19073).
          // Absent CT header pre-seeds CT_HTML like HttpMime::parse.
          FetchResult(task, found = false, allowed = true, cd, 200, Errs.EDOCBADCONTENTTYPE,
            "", 0, downloadEnd, Nil, "")
        } else {
          // X7-X10: the byte-exact extraction pipeline (charset → UTF-8
          // first: getRawUtf8Content, then iframe expansion
          // (getExpandedUtf8Content — precomputed via the frame-content
          // join when the page bears frame tags), then the
          // getUtf8Content chain). CT_PDF arrives converted to HTML
          // (GbPdf — the pdftohtml stand-in), already UTF-8.
          val work = if (pdfHtml != null)
              pdfHtml.getBytes(StandardCharsets.UTF_8)
            else if (expanded != null) expanded
            else graft.core.GbCharset.toUtf8(html, graft.core.GbCharset.fromHttpHeader(pcs))
          GbXml.sanitizeUtf8(work)
          val decoded = GbXml.htmlDecode(work, doSpecial = true)
          val norm = GbXml.normalizeAfterDecode(decoded)
          val nodes = GbXml.parse(norm)
          val text = new String(GbXml.getTextBytes(norm, nodes), StandardCharsets.UTF_8)
          val contentHash = GbHash.hash32(text)

          // X14: the doc's language (getLangId chain) — dictionary word
          // voting + script fallback + window smoothing over the doc's
          // words; langUnknown keeps the reference's "xx" abbr. Feeds
          // the reply AND the outlinks' parent_lang (`parentlang` rules)
          val docLang = graft.core.GbLang.abbr(graft.core.GbLang.docLangId(text))

          // reply-side truth (getNewSpiderReply inputs, XmlDoc.h:773):
          // isRSS from the parse, isPermalink via the links-free
          // ::isPermalink shape, isSiteMap from the filename
          val pageIsRSS = GbXml.isRSSFeed(nodes) != 0
          val pageIsPermalink = graft.core.GbPermalink.isPermalink(u, pageIsRSS)
          val pageIsSiteMap = u.filename.equalsIgnoreCase("sitemap.xml") // getIsSiteMap (ct folded into the .xml name)

          // the doc's own hop count (getHopCount, XmlDoc.cpp:21540-21575):
          // TitleRec hop is one byte (truncate at 0x7f), and an RSS doc
          // with hc > 1 is FORCED to 1 ("otherwise it gets pounded too
          // hard on the aggregator sites", XmlDoc.cpp:21565-21572) —
          // its outlinks then get hc = 2, not request-hop + 1
          val docHop = {
            val h = math.min(task.hop_count, 0x7f)
            if (pageIsRSS && h > 1) 1 else h
          }

          // X11+X12: outlinks → SpiderRequests
          val harvest = task.ufn >= 0 && rules(task.ufn).harvestLinks
          val outs: Seq[FrontierRequest] = if (!harvest) Nil else {
            val links = GbLinks.harvest(norm, nodes, u)
            val seenInPage = new java.util.HashSet[Integer]()
            links.flatMap { l =>
              // dup-in-page dedup by hash32 of the url (XmlDoc.cpp:27640-27645)
              var uh32 = GbHash.hash32(l.url.url)
              if (uh32 == 0) uh32 = 1
              // "we only harvest <link> urls from rss feeds, not href
              // links" (XmlDoc.cpp:27623-27626) — checked BEFORE the
              // nofollow skip and the in-page dedup add, like the ref
              if (pageIsRSS && l.fromAhref) None
              else if (l.nofollow) None
              else if (seenInPage.contains(uh32)) None
              else {
                seenInPage.add(uh32)
                val lu = l.url
                if (!lu.url.startsWith("http://") && !lu.url.startsWith("https://")) None
                else if (lu.hostLen <= 2) None
                else if (lu.uh48 == task.uh48) None // skip self (XmlDoc.cpp:27957)
                else {
                  var hc = docHop + 1 // XmlDoc.cpp:27754 (m_hopCount + 1)
                  if (hc > 65535) hc = 65535
                  // issiteroot/pingserver hop-0 (XmlDoc.cpp:27766-27769)
                  // applied in resolveOutlinks — site-root-ness depends
                  // on the tagdb warm/cold site hash
                  val ext = lu.extension.toLowerCase
                  val isRSSExt = ext == "rss" || ext == "xml" || ext == "atom"
                  var fl = Flags.IsNewOutlink
                  if (isRSSExt) fl |= Flags.IsRSSExt
                  if (lu.hasMediaExtension) fl |= Flags.HasMediaExtension
                  if (lu.isPingServer) fl |= Flags.IsPingServer
                  if (lu.isSimpleSubdomain) fl |= Flags.IsWWWSubdomain
                  if (lu.domHash32 == u.domHash32) fl |= Flags.SameDom
                  if (lu.hostHash32 == u.hostHash32) fl |= Flags.SameHost
                  // SameSite set in resolveOutlinks (needs the tagdb
                  // warm/cold linkee site, XmlDoc.cpp:27890)
                  // parent-truth flags (XmlDoc.cpp:27469-27472, 27891) and
                  // the url-format permalink guess (XmlDoc.cpp:27801-27804)
                  if (pageIsRSS) fl |= Flags.ParentIsRSS
                  if (pageIsSiteMap) fl |= Flags.ParentIsSiteMap
                  if (pageIsPermalink) fl |= Flags.ParentIsPermalink
                  if (task.was_indexed) fl |= Flags.WasParentIndexed
                  if (graft.core.GbPermalink.isUrlPermalinkFormat(lu)) fl |= Flags.IsUrlPermalinkFormat
                  Some(FrontierRequest(
                    uh48 = lu.uh48,
                    first_ip = 0, // resolved by the host_meta join (resolveOutlinks)
                    url = lu.url,
                    host_hash32 = lu.hostHash32,
                    dom_hash32 = lu.domHash32,
                    site_hash32 = lu.hostHash32,
                    site_num_inlinks = -1, // resolved by the host_meta join
                    added_time = now,
                    discovery_time = now,
                    hop_count = hc,
                    parent_lang = docLang,
                    flags = fl,
                    err_count = 0,
                    parent_doc_id = task.uh48 & GbHash.DocIdMask
                  ))
                }
              }
            }
          }
          // percentChanged (getPercentChanged, XmlDoc.cpp:9804-9824):
          // page sample vector of this doc vs the old titledb doc's —
          // a SIMILARITY (100 = unchanged), quirk preserved
          val sampleVec = graft.core.GbSampleVec.sampleVector(norm, nodes)
          val pc =
            if (oldVec == null) 0f
            else graft.core.GbSampleVec.similarity(sampleVec, oldVec)
          FetchResult(task, found = true, allowed = true, cd, 200, Errs.OK,
            docLang, contentHash, downloadEnd, outs, text,
            isRSS = pageIsRSS, isPermalink = pageIsPermalink, isSiteMap = pageIsSiteMap,
            html = html, percentChanged = pc, sampleVec = sampleVec)
        }
      }
  }

  // ---------------------------------------------------------- redirects

  /** Url::getPathDepth(countFilename) (Url.cpp:1076-1084): '/'-count
    * from path+1 to the END OF THE URL (query included), +1 if the url
    * does not end in '/'. */
  private def pathDepthRef(u: GbUrl, countFilename: Boolean): Int = {
    var n = 0
    var i = u.pathOff + 1
    while (i < u.url.length) { if (u.url.charAt(i) == '/') n += 1; i += 1 }
    if (countFilename && u.url.nonEmpty && u.url.last != '/') n += 1
    n
  }

  @inline private def isHostWWW(u: GbUrl): Boolean =
    u.hostLen >= 4 && u.url.startsWith("www.", u.hostOff)

  /** The simplified-redirect test (XmlDoc.cpp:11688-11724): loc is a
    * "simpler" url than the FIRST url → stop spidering this url and
    * re-queue loc instead (EDOCSIMPLIFIEDREDIR). */
  def isSimplifiedRedirect(f: GbUrl, loc: GbUrl): Boolean = {
    var s = false
    if (pathDepthRef(loc, countFilename = true) < pathDepthRef(f, countFilename = true)) s = true
    if (f.isCgi && !loc.isCgi) s = true
    if (loc.url.length == f.url.length + 1 && loc.url.last == '/' && loc.url.startsWith(f.url)) s = true
    if (f.url.contains(';') && !loc.url.contains(';')) s = true
    if (isHostWWW(loc) && !isHostWWW(f)) s = true
    if (!loc.domain.equalsIgnoreCase(f.domain) && !f.isRoot) s = true
    s
  }

  /** Precomputed redirect resolution (the Msg13 follow loop +
    * XmlDoc::getRedirUrl decisions, XmlDoc.cpp:11341-11790): for every
    * url in the redirects table, walk the chain and classify —
    *   err=0, final_url      → content fetched through the chain
    *   EDOCSIMPLIFIEDREDIR   → don't index; re-queue `final_url` (the
    *                           simpler target) KEEPING the parent hop
    *   EDOCREDIRECTSTOSELF / EDOCTOOMANYREDIRECTS / EDOCBADREDIRECTURL
    * Distributed (unrolled self-joins over the small dim table),
    * computed once per run. */
  def redirectClosure(redirects: Dataset[RedirectRow]): DataFrame = {
    val spark = redirects.sparkSession
    import spark.implicits._
    val r = redirects.toDF().select(col("url").as("r_u"), col("location").as("r_loc"))
    // state: (start, cur, err, done, hops)
    var st = redirects.toDF()
      .select(col("url").as("start"), col("url").as("cur"),
        lit(0).as("err"), lit(false).as("done"), lit(0).as("hops"))
    for (_ <- 1 to 10) {
      st = st.join(r, col("cur") === col("r_u"), "left_outer")
        .select(col("start").as[String], col("cur").as[String],
          struct(col("err"), col("done"), col("hops")).as[(Int, Boolean, Int)],
          col("r_loc").as[String])
        .map { case (start, cur, (err, done, hops), locRaw) =>
          if (done || err != 0) (start, cur, err, true, hops)
          else if (locRaw == null) (start, cur, 0, true, hops)
          else {
            val loc = GbUrl.parseRel(GbUrl.parse(cur), locRaw)
            val protoOk = !locRaw.contains("://") ||
              locRaw.startsWith("http://") || locRaw.startsWith("https://")
            if (!loc.isValid || loc.domLen <= 0 || !protoOk)
              (start, cur, Errs.EDOCBADREDIRECTURL, true, hops)
            else if (loc.url == cur)
              (start, cur, Errs.EDOCREDIRECTSTOSELF, true, hops)
            else if (hops + 1 >= 10)
              (start, cur, Errs.EDOCTOOMANYREDIRECTS, true, hops)
            else {
              val curU = GbUrl.parse(cur)
              // cross-domain hop: follow without the simplified test
              // (XmlDoc.cpp:11633-11641 returns the redir url early)
              if (!loc.domain.equalsIgnoreCase(curU.domain))
                (start, loc.url, 0, false, hops + 1)
              else if (isSimplifiedRedirect(GbUrl.parse(start), loc))
                (start, loc.url, Errs.EDOCSIMPLIFIEDREDIR, true, hops + 1)
              else (start, loc.url, 0, false, hops + 1)
            }
          }
        }
        .toDF("start", "cur", "err", "done", "hops")
    }
    st.select(col("start").as("redir_url"), col("cur").as("redir_final"), col("err").as("redir_err"))
  }

  /** The revised-request re-add (getRevisedSpiderRequest,
    * XmlDoc.cpp:2330-2367 via the EFAKEFIRSTIP path :2617-2691): for
    * every fake-firstIp add-url request answered this iteration, re-add
    * an EXACT copy under the real first ip with the flag cleared — only
    * m_firstIp changes; siteNumInlinks etc. stay as discovered. The
    * real ip comes from the host_meta join (the getFirstIp DNS step);
    * unknown hosts use the same deterministic pseudo-ip fallback as
    * resolveOutlinks. Bypasses seen-set admission by design: the url IS
    * seen — this is a keyed re-shard, not a discovery. */
  def resolveRevised(efakeResults: Dataset[FetchResult],
                     requests: Dataset[FrontierRequest],
                     hostMeta: Dataset[HostMeta],
                     tagState: Dataset[TagState]): Dataset[FrontierRequest] = {
    val spark = efakeResults.sparkSession
    import spark.implicits._
    import graft.functions.GraftFunctions.{urlHost, gbHash32}
    import graft.functions.GraftFunctions.siteKeyHash32
    val keys = efakeResults.map(r => (r.task.first_ip, r.task.uh48)).toDF("e_ip", "e_uh48")
    requests.toDF()
      .join(keys, col("first_ip") === col("e_ip") && col("uh48") === col("e_uh48"), "left_semi")
      .withColumn("host", urlHost(col("url")))
      // getRevisedSpiderRequest takes the ip from getFirstIp — the tagdb
      // pinned firstip tag first (XmlDoc.cpp:14157-14176), then DNS
      .join(tagState.toDF().select(col("site_hash32").as("tag_key"), col("first_ip").as("tag_ip")),
        siteKeyHash32(col("url")) === col("tag_key"), "left_outer")
      .join(hostMeta.toDF().select(col("host").as("hm_host"), col("first_ip").as("hm_ip")),
        col("host") === col("hm_host"), "left_outer")
      .withColumn("fb_ip", gbHash32(col("host")))
      .withColumn("first_ip", coalesce(
        when(col("tag_ip") =!= 0, col("tag_ip")), col("hm_ip"),
        when(col("fb_ip") === 0 || col("fb_ip") === -1, lit(1)).otherwise(col("fb_ip"))))
      .withColumn("flags", col("flags").bitwiseAND(lit(~Flags.FakeFirstIp)))
      .drop("host", "hm_host", "hm_ip", "fb_ip", "tag_key", "tag_ip")
      .as[FrontierRequest]
  }

  /** One resolved outlink: the parent's /24 c-block (A7 feed), the site
    * the link accrues to in linkdb terms (tagdb warm/cold resolved), and
    * the finished request. */
  final case class ResolvedOutlink(
      parent_cblock: Int,
      link_site_hash32: Int, // warm/cold linkdb site (accrual key)
      link_site: String,
      tag_key_hash32: Int, // SiteGetter guess (tagdb key: pin target)
      tag_key: String,
      req: FrontierRequest
  )

  /** Deterministic, associative [[TagState]] merge: firstip pinned to
    * the EARLIEST stamp's non-zero value (resolution is a pure function
    * of host within an iteration, so same-stamp values agree); site tag
    * bit ORs; cblock sets keep the `cap` smallest (same convention as
    * InlinkState). */
  def combineTags(a: TagState, b: TagState, cap: Int): TagState = {
    val ip =
      if (a.first_ip == 0) b.first_ip
      else if (b.first_ip == 0) a.first_ip
      else if (a.stamp != b.stamp) { if (a.stamp < b.stamp) a.first_ip else b.first_ip }
      else math.min(a.first_ip, b.first_ip)
    val cb = (a.cblocks ++ b.cblocks).distinct.sorted.take(cap)
    val site =
      if (a.site.nonEmpty && (b.site.isEmpty || a.site <= b.site)) a.site else b.site
    TagState(a.site_hash32, site, ip, a.has_site_tag || b.has_site_tag, cb,
      math.min(a.stamp, b.stamp))
  }

  /** J5: batch host→(firstIp, site, siteNumInlinks) resolution as JOINs
    * (the Msge1 batch-lookup shape, Msge1.cpp:36 getFirstIps + the
    * per-outlink Msg8a tagdb fetch of getOutlinkTagRecVector) — replaces
    * the round-1 driver-side collect()+broadcast map. Both dimension
    * tables auto-broadcast while small and shuffle on their keys at
    * scale. Resolution per outlink, following the reference exactly:
    *
    *  - firstIp: tagdb pinned "firstip" tag → DNS (host_meta) →
    *    deterministic hash32(host) pseudo-IP (sandbox DNS stand-in).
    *  - site (getLinkSiteHashes, XmlDoc.cpp:8895-8920): the tagdb "site"
    *    tag when the linkee's site was indexed (warm); the RAW host hash
    *    when not (cold) — no guess on the cold path, quirk preserved.
    *  - siteNumInlinks (XmlDoc.cpp:27677-27695): the tagdb tag (our
    *    cblock count) when present else -1, raised to the sitelinks.txt
    *    minimum (g_tagdb.getMinSiteInlinks — host_meta's
    *    site_num_inlinks fixture plays that static-floor role).
    *  - hop: `issiteroot` (isSiteRootFunc3 against the RESOLVED site
    *    hash) and ping-server force hop 0 (XmlDoc.cpp:27766-27769) —
    *    evaluated here because site-root-ness depends on the warm/cold
    *    site; redirect-requeue rows keep their hop unless site-root,
    *    like the reference (:27758-27769 order).
    *  - sameSite flag: resolved site hash == parent's SiteGetter site
    *    hash (XmlDoc.cpp:27890). */
  def resolveOutlinks(results: Dataset[FetchResult],
                      hostMeta: Dataset[HostMeta],
                      tagState: Dataset[TagState]): Dataset[ResolvedOutlink] = {
    val spark = results.sparkSession
    import spark.implicits._
    import graft.functions.GraftFunctions.gbHash32
    val raw = results.flatMap { r =>
      val parentSiteHash = GbHash.hash32(graft.core.SiteGetter.site(r.task.url))
      r.outlinks.map { o =>
        val u = GbUrl.parse(o.url)
        val guess = graft.core.SiteGetter.site(u)
        (r.task.first_ip & 0x00ffffff, parentSiteHash, u.host,
          GbHash.hash32(guess), guess,
          graft.core.SiteGetter.urlNoSchemeHash32(o.url), o)
      }
    }.toDF("parent_cblock", "parent_site_hash32", "host", "guess_hash32", "guess", "url_ns_hash32", "o")
    raw
      .join(hostMeta.toDF().select(col("host").as("hm_host"),
          col("first_ip").as("hm_ip"), col("site_num_inlinks").as("hm_sni")),
        col("host") === col("hm_host"), "left_outer")
      .join(tagState.toDF().select(col("site_hash32").as("tag_key"),
          col("first_ip").as("tag_ip"), col("has_site_tag"),
          size(col("cblocks")).as("tag_sni")),
        col("guess_hash32") === col("tag_key"), "left_outer")
      .withColumn("fb_ip", gbHash32(col("host")))
      .withColumn("res_ip", coalesce(
        when(col("tag_ip") =!= 0, col("tag_ip")), col("hm_ip"),
        when(col("fb_ip") === 0 || col("fb_ip") === -1, lit(1)).otherwise(col("fb_ip"))))
      // warm: tagdb site; cold: raw host (o.site_hash32 carries
      // hash32(host) from the harvest)
      .withColumn("warm", coalesce(col("has_site_tag"), lit(false)))
      .withColumn("res_site", when(col("warm"), col("guess_hash32")).otherwise(col("o.site_hash32")))
      .withColumn("res_site_str", when(col("warm"), col("guess")).otherwise(col("host")))
      .withColumn("ksni", when(col("warm") && col("tag_sni") > 0, col("tag_sni")).otherwise(lit(-1)))
      .withColumn("res_sni", greatest(col("ksni"), coalesce(col("hm_sni"), lit(-1))))
      .withColumn("res_hop",
        when(col("url_ns_hash32") === col("res_site"), 0) // issiteroot
          .when((col("o.flags").bitwiseAND(lit(Flags.IsPingServer))) =!= 0, 0)
          .otherwise(col("o.hop_count")))
      .withColumn("res_flags",
        when(col("res_site") === col("parent_site_hash32"),
          col("o.flags").bitwiseOR(lit(Flags.SameSite))).otherwise(col("o.flags")))
      .select(
        col("parent_cblock"), col("res_site").as("link_site_hash32"),
        col("res_site_str").as("link_site"),
        col("guess_hash32").as("tag_key_hash32"), col("guess").as("tag_key"),
        struct(col("o.uh48").as("uh48"), col("res_ip").as("first_ip"),
          col("o.url").as("url"), col("o.host_hash32").as("host_hash32"),
          col("o.dom_hash32").as("dom_hash32"), col("res_site").as("site_hash32"),
          col("res_sni").as("site_num_inlinks"), col("o.added_time").as("added_time"),
          col("o.discovery_time").as("discovery_time"), col("res_hop").as("hop_count"),
          col("o.parent_lang").as("parent_lang"), col("res_flags").as("flags"),
          col("o.err_count").as("err_count"), col("o.parent_doc_id").as("parent_doc_id")
        ).as("req"))
      .as[ResolvedOutlink]
  }

  // ----------------------------------------------------------- writeback

  /** J2: admission anti-join against the URL-seen set with the
    * PARTITIONED bloom prefilter (north_star: salted-hash partitioned
    * blooms). Candidates that miss their bucket's bloom are
    * definitely-new and skip the exact join; bloom-positives (including
    * fps) pay the exact left_anti join so the final seen-set is
    * byte-exact (SURVEY §7 risk 4). */
  def admitNew(candidates: Dataset[FrontierRequest],
               seen: DataFrame,
               bloomTable: DataFrame,
               cfg: Config): Dataset[FrontierRequest] =
    // no persist: the candidates' expensive upstream (resolveOutlinks)
    // is already cached by the caller, so the two consumers just
    // re-run the cheap bloom probe — a persist here leaked one cached
    // dataset per iteration (never unpersisted, OOMing long loops)
    admitTagged(SeenBloom.tagged(candidates, bloomTable, cfg.seenBuckets), seen)

  /** The exact half of J2 over pre-tagged candidates: bloom-negatives
    * are definitely new; positives (incl. false positives) pay the
    * exact left_anti against `seen` (any table with a uh48 column — in
    * the loop, the requests chain). No distinct() on the seen side:
    * left_anti is set-semantics already, and the distinct was a full
    * extra shuffle per iteration (uh48 is near-unique by the write
    * invariant). */
  def admitTagged(tagged: Dataset[(FrontierRequest, Boolean)],
                  seen: DataFrame): Dataset[FrontierRequest] = {
    val spark = tagged.sparkSession
    import spark.implicits._
    val definitelyNew = tagged.filter(!_._2).map(_._1)
    val checked = tagged.filter(_._2).map(_._1)
      .join(seen.select("uh48"), Seq("uh48"), "left_anti").as[FrontierRequest]
    definitelyNew.union(checked)
  }

  /** Build replies from fetch results, carrying the reply-side analysis
    * bits (getNewSpiderReply, XmlDoc.cpp:27140-27360): isRSS/isPermalink/
    * isIndexed flags and percentChangedPerDay against the previous reply.
    * The reference's percentChanged is a term-level diff of old vs new
    * doc; with only content hashes persisted this engine approximates it
    * as the TERM-LEVEL page-sample-vector similarity (GbSampleVec;
    * percentChanged = pageSimilarity, 100 = unchanged, quirk preserved),
    * then applies the exact formula — including its quirk that `numDays`
    * is actually SECONDS (`float numDays = spideredTime -
    * oldSpideredTime`, XmlDoc.cpp:27194-27198). */
  def repliesOf(results: Dataset[FetchResult],
                priorReplies: Dataset[FrontierReply],
                cfg: Config, iteration: Int): Dataset[FrontierReply] = {
    val spark = results.sparkSession
    import spark.implicits._
    val now = nowSecs(cfg, iteration)
    val fresh = results.map { r =>
      var fl = 0L
      if (r.isRSS) fl |= Flags.RepIsRSS
      if (r.isPermalink) fl |= Flags.RepIsPermalink
      if (r.errCode == Errs.OK) fl |= Flags.RepIsIndexed
      (FrontierReply(
        uh48 = r.task.uh48,
        first_ip = r.task.first_ip,
        spidered_time = now,
        err_code = r.errCode,
        http_status = r.httpStatus,
        crawl_delay_ms = r.crawlDelayMs,
        download_end_time = r.downloadEndMs,
        lang = r.lang,
        content_hash32 = r.contentHash32,
        percent_changed_per_day = 0f,
        flags = fl,
        err_count = if (r.errCode != 0 && UrlFilters.tmpErrors.contains(r.errCode)) 1 else 0
      ), r.percentChanged)
    }.toDF("r", "pc").select(col("r.*"), col("pc"))
    // percentChangedPerDay: only when an indexed old doc exists (od,
    // XmlDoc.cpp:27191-27198). The old-doc lookup is by DOCID in the
    // reference (getOldXmlDoc → titledb), NOT by firstIp — a reindex
    // request runs under a fake docid-derived ip (PageReindex.cpp:454,
    // 460) and must still find its old doc, so this join keys on uh48
    // alone, latest OK reply across ips.
    // O(batch), not O(crawled): the lookup is left-joined to this
    // batch's replies on uh48, so prior replies of urls outside the
    // batch can never contribute — semi-join them away BEFORE the
    // latest-reply aggregate (the reference reads only the due slice's
    // spiderdb list, which holds its replies, Spider.cpp:3805). The
    // per-(first_ip, uh48) latest pick is the same lexicographic
    // struct max the schedule uses (latestReplies' order), expressed
    // natively — no object shuffle on the reply rows.
    val batchKeys = fresh.select("uh48").distinct()
    val old = priorReplies.toDF()
      .join(batchKeys, Seq("uh48"), "left_semi")
      .groupBy("first_ip", "uh48")
      .agg(max(struct(col("spidered_time"), col("download_end_time"),
        col("err_code"))).as("r"))
      .filter(col("r.err_code") === Errs.OK && col("r.spidered_time") > 0)
      .groupBy("uh48").agg(max(col("r.spidered_time")).as("o_time"))
      .withColumnRenamed("uh48", "o_uh48")
    fresh
      .join(old, col("uh48") === col("o_uh48"), "left_outer")
      .withColumn("percent_changed_per_day",
        when(col("o_time").isNotNull && col("err_code") === Errs.OK,
          (col("pc") + lit(0.5f)) / (col("spidered_time") - col("o_time")).cast("float"))
          .otherwise(lit(0.0f)).cast("float"))
      .drop("o_uh48", "o_time", "pc")
      .as[FrontierReply]
  }

  // ------------------------------------------------------------ snapshots

  final case class Snapshot(dir: String, iteration: Int)

  def snapDir(workdir: String, i: Int): String = f"$workdir/snap_$i%05d"

  /** LSM-style snapshot reads: a snapshot holds either a full table
    * (`requests`, written at init/compaction — the memtable-dump/merge
    * analogue, Rdb.cpp) or an append-only delta (`requests_delta`).
    * Readers union deltas back to the last full snapshot, so an
    * iteration writes O(new urls), not O(frontier). Parquet column
    * pruning keeps the seen-set scan (uh48 only) cheap. */
  private def loadTable(spark: SparkSession, workdir: String, i: Int, name: String,
      schema: org.apache.spark.sql.types.StructType = null): DataFrame = {
    // explicit schema when the caller knows it: the footer-reading
    // schema-inference job per chain part goes away (the LSM chain is
    // many small dirs by design — at 5 iters that was ~7 jobs/iter)
    val reader = if (schema != null) spark.read.schema(schema) else spark.read
    chainParts(workdir, i, name).map(reader.parquet(_)).reduce(_ unionByName _)
  }

  /** The directories of table `name`'s chain as of snapshot i: its
    * deltas back to the last full table, oldest first. */
  private def chainParts(workdir: String, i: Int, name: String): List[String] = {
    var parts = List.empty[String]
    var k = i
    var done = false
    while (k >= 0 && !done) {
      val full = s"${snapDir(workdir, k)}/$name"
      val delta = s"${snapDir(workdir, k)}/${name}_delta"
      // a snapshot can hold BOTH a full table and a delta: inject()
      // appends its delta into the latest snapshot, which has a full
      // table right after init or compaction — read both, then stop
      if (new java.io.File(delta).exists) parts ::= delta
      if (new java.io.File(full).exists) { parts ::= full; done = true }
      else k -= 1
    }
    parts
  }

  /** Rows in table `name`'s chain as of snapshot i, summed from the
    * parquet footers: driver-side file reads, no job. */
  def chainRows(spark: SparkSession, workdir: String, i: Int, name: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    chainParts(workdir, i, name).iterator
      .flatMap(d => Option(new java.io.File(d).listFiles()).getOrElse(Array.empty[java.io.File]))
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Rows in the largest table an iteration on snapshot i shuffles
    * whole, whatever its batch: the requests chain (the seen set, J2's
    * anti-join, the due slices), replies and titledb (the latest
    * vector per url). */
  def stateRows(spark: SparkSession, workdir: String, i: Int): Long =
    Seq("requests", "replies", "titledb").map(chainRows(spark, workdir, i, _)).max

  def loadRequests(spark: SparkSession, workdir: String, i: Int): Dataset[FrontierRequest] = {
    import spark.implicits._
    loadTable(spark, workdir, i, "requests",
      implicitly[org.apache.spark.sql.Encoder[FrontierRequest]].schema).as[FrontierRequest]
  }

  def loadReplies(spark: SparkSession, workdir: String, i: Int): Dataset[FrontierReply] = {
    import spark.implicits._
    loadTable(spark, workdir, i, "replies",
      implicitly[org.apache.spark.sql.Encoder[FrontierReply]].schema).as[FrontierReply]
  }

  /** S7: the crawled-content table as of snapshot i (delta chain back
    * to the last compaction, latest record per uh48). */
  def loadTitledb(spark: SparkSession, workdir: String, i: Int): Dataset[TitleRow] = {
    import spark.implicits._
    val df = loadTable(spark, workdir, i, "titledb",
      implicitly[org.apache.spark.sql.Encoder[TitleRow]].schema).as[TitleRow]
    df.groupByKey(_.uh48).reduceGroups((a, b) => if (a.spidered_time >= b.spidered_time) a else b)
      .map(_._2)
  }

  /** Slim titledb projection for percentChanged: latest (uh48 →
    * sample_vec). Column pruning reaches the parquet scan, so the
    * html/text payload columns are never read, and the latest-per-url
    * reduction shuffles 124-byte vectors, not page bodies. */
  def loadTitleVecs(spark: SparkSession, workdir: String, i: Int): DataFrame =
    loadTable(spark, workdir, i, "titledb",
        org.apache.spark.sql.Encoders.product[TitleRow].schema)
      .select(col("uh48"), col("spidered_time"), col("sample_vec"))
      .groupBy("uh48")
      .agg(max(struct(col("spidered_time"), col("sample_vec"))).as("s"))
      .select(col("uh48"), col("s.sample_vec").as("sample_vec"))

  /** A keyed snapshot table on the StateTable bucket chain: its
    * directory name, the column its rows bucket on, and its schema (as
    * an empty table). `fromRequests` rebuilds the seen bloom from a
    * requests table — its ground truth at init and compaction; the
    * other tables start empty and compact from their own chain. */
  final case class KeyedTable(name: String, key: String, empty: SparkSession => DataFrame,
                              fromRequests: Option[(DataFrame, Config) => DataFrame] = None) {
    /** The table as of snapshot i. */
    def load(spark: SparkSession, workdir: String, i: Int): DataFrame =
      StateTable.load(spark, workdir, i, name, empty(spark))
  }

  /** The five keyed snapshot tables. The URL-seen set and the old-page
    * sample vectors are not among them: each is read from the table
    * that already holds the fact (the requests chain and titledb). */
  object Keyed {
    private def none[T](e: Encoder[T], cols: String*): SparkSession => DataFrame =
      s => if (cols.isEmpty) s.emptyDataset(e).toDF() else s.emptyDataset(e).toDF(cols: _*)
    val dom = KeyedTable("dom_state", "dom_hash32", none(Encoders.product[DomState]))
    val inlinks = KeyedTable("inlink_state", "uh48", none(Encoders.product[InlinkState]))
    val tags = KeyedTable("tag_state", "site_hash32", none(Encoders.product[TagState]))
    val quota = KeyedTable("quota_state", "key", none(Encoders.product[(Int, Long)], "key", "n"))
    val bloom = KeyedTable("seen_bloom", "bloom_bucket", SeenBloom.empty,
      Some((reqs, cfg) => SeenBloom.build(reqs.select("uh48").as(Encoders.LONG),
        cfg.seenBuckets, cfg.expectedSeenPerBucket, cfg.bloomFpp)))
    val all: Seq[KeyedTable] = Seq(dom, inlinks, tags, quota, bloom)
  }

  /** Inlink c-block state as of snapshot i. O(delta) maintained: only
    * the buckets an iteration touches are written forward (StateTable). */
  def loadInlinkState(spark: SparkSession, workdir: String, i: Int): Dataset[InlinkState] = {
    import spark.implicits._
    Keyed.inlinks.load(spark, workdir, i).as[InlinkState]
  }

  /** Per-domain robots crawl-delay state as of snapshot i. */
  def loadDomState(spark: SparkSession, workdir: String, i: Int): Dataset[DomState] = {
    import spark.implicits._
    Keyed.dom.load(spark, workdir, i).as[DomState]
  }

  /** A6 quota state (the reference's scan-built m_localTable,
    * Spider.cpp:4355-4421): counts keyed by firstIp / siteHash32 /
    * domHash32 (indexed pages, one vote per url) and by
    * siteHash32^0x123456 / domHash32^0x123456 (manual-add seed counts).
    * Maintained INCREMENTALLY from each iteration's newly-indexed and
    * revised-manual-add transitions instead of the reference's full
    * spiderdb re-scan. */
  def loadQuotaState(spark: SparkSession, workdir: String, i: Int): DataFrame =
    Keyed.quota.load(spark, workdir, i)

  /** Minimal tagdb (see [[TagState]]): keyed by the SiteGetter site
    * hash, carries the pinned firstip, the "site" tag bit, and the
    * site-level inlinking c-blocks. Cumulative like ip/dom state. */
  def loadTagState(spark: SparkSession, workdir: String, i: Int): Dataset[TagState] = {
    import spark.implicits._
    Keyed.tags.load(spark, workdir, i).as[TagState]
  }

  /** The per-IP table as of snapshot i: everything the spider keeps per
    * firstIp (the SpiderColl's waiting-tree time, m_lastDownloadCache
    * and per-IP counts, Spider.h:1225-1482) in one row per first_ip —
    * `last_download_end_ms` (politeness), `n` (A8: exact request count)
    * and `next_ms` (A3: waiting-tree lower bound), each null where the
    * IP has no such state. Every snapshot rewrites it whole (O(#IPs)),
    * so it is read from snapshot i alone. */
  def loadIpTable(spark: SparkSession, workdir: String, i: Int): DataFrame =
    spark.read.schema("first_ip INT, last_download_end_ms BIGINT, n BIGINT, next_ms BIGINT")
      .parquet(s"${snapDir(workdir, i)}/ip_table")

  private def ipStateOf(t: DataFrame): Dataset[IpState] = {
    import t.sparkSession.implicits._
    t.filter(col("last_download_end_ms").isNotNull)
      .select("first_ip", "last_download_end_ms").as[IpState]
  }

  private def ipCountsOf(t: DataFrame): DataFrame =
    t.filter(col("n").isNotNull).select("first_ip", "n")

  private def ipNextOf(workdir: String, i: Int, cfg: Config, t: DataFrame): Option[DataFrame] = {
    val marker = ipTableMarker(workdir, i)
    if (marker.exists &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)).trim == rulesFingerprint(cfg))
      Some(t.filter(col("next_ms").isNotNull).select("first_ip", "next_ms"))
    else None
  }

  /** Politeness state (per-IP last download end) as of snapshot i. */
  def loadIpState(spark: SparkSession, workdir: String, i: Int): Dataset[IpState] =
    ipStateOf(loadIpTable(spark, workdir, i))

  /** A8 state: exact per-IP request counts as of snapshot i, maintained
    * INCREMENTALLY from each delta (+ recounted at compaction, which
    * drops rows) so the overflow guard no longer pays an O(frontier)
    * groupBy every iteration. */
  def loadIpCounts(spark: SparkSession, workdir: String, i: Int): DataFrame =
    ipCountsOf(loadIpTable(spark, workdir, i))

  /** A fingerprint of everything the waiting-tree lower bounds depend
    * on: if the rule table / site list / patterns change between runs,
    * stored next_ms entries may no longer be lower bounds → discard. */
  def rulesFingerprint(cfg: Config): String = {
    val s = cfg.rules.mkString("|") + "#" + cfg.siteList + "#" + cfg.patterns.toString
    java.lang.Long.toHexString(graft.core.GbHash.hash64b(s))
  }

  /** A3 waiting-tree state as of snapshot i: first_ip → next_ms (a lower
    * bound on the IP's earliest eligible spider time, valid until the IP
    * is touched). None when the snapshot's schedule ran without wake
    * maintenance or under a different rule config (`ip_table.rules`
    * missing or different) — the next iteration then runs a full
    * bootstrap scan and rebuilds it. */
  def loadIpNext(spark: SparkSession, workdir: String, i: Int, cfg: Config): Option[DataFrame] =
    ipNextOf(workdir, i, cfg, loadIpTable(spark, workdir, i))

  private def ipTableMarker(workdir: String, i: Int): java.io.File =
    new java.io.File(s"${snapDir(workdir, i)}/ip_table.rules")

  /** One per-IP table roll-forward. Every layer carries (first_ip,
    * last_download_end_ms, n, pri, next_ms); the single groupBy keeps
    * the latest download end, sums the counts and takes `next_ms` from
    * the highest-`pri` layer that has one (layers with a null `pri`
    * leave it alone). IPs left with no state at all drop out. */
  private def mergeIpTable(layers: Seq[DataFrame]): DataFrame =
    layers.reduce(_ unionByName _)
      .groupBy("first_ip")
      .agg(max(col("last_download_end_ms")).as("last_download_end_ms"),
        sum(col("n")).as("n"),
        max(when(col("pri").isNotNull, struct(col("pri"), col("next_ms")))).as("s"))
      .select(col("first_ip"), col("last_download_end_ms"), col("n"), col("s.next_ms").as("next_ms"))
      .filter(coalesce(col("last_download_end_ms"), col("n"), col("next_ms")).isNotNull)

  private def ipLayer(df: DataFrame, last: Column = lit(null), n: Column = lit(null),
                      pri: Column = lit(null), next: Column = lit(null)): DataFrame =
    df.select(col("first_ip").cast("int").as("first_ip"),
      last.cast("long").as("last_download_end_ms"), n.cast("long").as("n"),
      pri.cast("int").as("pri"), next.cast("long").as("next_ms"))

  /** A prior table as one layer: its `next_ms` entries at priority 0. */
  private def priorIpLayer(t: DataFrame, n: Column = col("n")): DataFrame =
    ipLayer(t, last = col("last_download_end_ms"), n = n,
      pri = when(col("next_ms").isNotNull, lit(0)), next = col("next_ms"))

  def writeManifest(workdir: String, i: Int, metrics: Seq[MetricsRow]): Unit = {
    val d = snapDir(workdir, i)
    val m = metrics.map(x => s"""{"scheduled":${x.scheduled},"fetched":${x.fetched},"robots_denied":${x.robots_denied},"errors":${x.errors},"new_urls":${x.new_urls},"dups_dropped":${x.dups_dropped},"wall_ms":${x.wall_ms},"codegen_compiles":${x.codegen_compiles},"shuffle_partitions":${x.shuffle_partitions},"quiet":${x.quiet}}""").mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$d/MANIFEST.json"),
      s"""{"iteration":$i,"lineage":$m}""")
  }

  def latestSnapshot(workdir: String): Option[Int] = {
    val d = new java.io.File(workdir)
    if (!d.exists) return None
    val snaps = d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("snap_"))
      .filter(f => new java.io.File(f, "MANIFEST.json").exists)
      .map(_.getName.stripPrefix("snap_").toInt)
    if (snaps.isEmpty) None else Some(snaps.max)
  }

  // ----------------------------------------------------------- iteration

  /** A9: CollectionRec::m_spiderStatus values (Spider.h:32-42) and the
    * getSpiderStatusMsg texts (Spider.cpp:14540-14700, sandbox subset —
    * the admin-pause/repair states need a live cluster to mean anything). */
  object SpiderStatus {
    val Initializing = 0
    val MaxRounds = 1
    val MaxToCrawl = 2
    val MaxToProcess = 3
    val RoundDone = 4
    val NoUrls = 5
    val Paused = 6
    val InProgress = 7
    val AdminPaused = 8
    val Completed = 9
    val SeedsError = 10
    def msg(st: Int): String = st match {
      case Initializing => "Initializing."
      case MaxRounds => "Job has reached maxRounds limit."
      case MaxToCrawl => "Job has reached maxToCrawl limit."
      case MaxToProcess => "Job has reached maxToProcess limit."
      case RoundDone => "Round done."
      case NoUrls => "Job is initializing."
      case Paused => "Job paused."
      case InProgress => "Job is in progress."
      case AdminPaused => "Spidering disabled in master controls."
      case Completed => "Job has completed and no repeat is scheduled."
      case SeedsError => "All seeds had an error preventing crawling."
      case _ => "Unknown status."
    }
    /** Per-iteration status conversion (Spider.cpp:14606-14633): the
      * maxToCrawl cap wins, an exhausted round converts to MAXROUNDS
      * only when m_maxCrawlRounds > 0 (Spider.cpp:6600-6603 — 0 and -1
      * both mean "no round limit"), else the round is merely done. */
    def convert(maxToCrawl: Long, downloaded: Long, maxRounds: Int,
                round: Int, scheduled: Long): Int =
      if (maxToCrawl >= 0 && downloaded >= maxToCrawl) MaxToCrawl
      else if (scheduled == 0) {
        if (maxRounds > 0 && round >= maxRounds) MaxRounds else RoundDone
      } else InProgress
  }

  final case class IterationResult(scheduled: Long, fetched: Long, robotsDenied: Long,
                                   errors: Long, newUrls: Long, dupsDropped: Long,
                                   status: Int = SpiderStatus.InProgress)

  /** Every state input an iteration needs, as lazy plans over the
    * snapshot chain as of one snapshot ([[loadLoopState]]). */
  final case class LoopState(
      requests: Dataset[FrontierRequest],
      replies: Dataset[FrontierReply],
      ipState: Dataset[IpState],
      domState: Dataset[DomState],
      inlinks: Dataset[InlinkState],
      tagState: Dataset[TagState],
      quotaState: DataFrame,
      ipCounts: DataFrame,
      ipNext: Option[DataFrame],
      titleVecs: DataFrame, // (uh48, sample_vec) — loadTitleVecs
      seenUh48: DataFrame, // (uh48) — the URL-seen set: the requests' distinct uh48s
      bloom: DataFrame, // (bloom_bucket, bloom) — SeenBloom's table
      buckets: Map[String, Int]) // keyed-state bucket counts (constant between compactions)

  /** Root a LoopState on the disk chain as of snapshot i. Lazy — nothing
    * executes here. */
  def loadLoopState(spark: SparkSession, workdir: String, i: Int, cfg: Config): LoopState = {
    val ipTable = loadIpTable(spark, workdir, i)
    val requests = loadRequests(spark, workdir, i)
    LoopState(
      requests = requests,
      replies = loadReplies(spark, workdir, i),
      ipState = ipStateOf(ipTable),
      domState = loadDomState(spark, workdir, i),
      inlinks = loadInlinkState(spark, workdir, i),
      tagState = loadTagState(spark, workdir, i),
      quotaState = loadQuotaState(spark, workdir, i),
      ipCounts = ipCountsOf(ipTable),
      ipNext = ipNextOf(workdir, i, cfg, ipTable),
      titleVecs = loadTitleVecs(spark, workdir, i),
      // a fake-IP add-url re-added under its real IP is a second
      // request row for the same uh48
      seenUh48 = requests.select("uh48").distinct(),
      bloom = Keyed.bloom.load(spark, workdir, i),
      buckets = Keyed.all.map(t => t.name -> StateTable.bucketsOf(workdir, i, t.name)).toMap)
  }

  /** Run one full crawl iteration: read state as of snapshot i-1, write
    * snapshot i (request/reply DELTAS — O(new data), not O(frontier)).
    * Phases: load → schedule → fetch → resolve+admit → merge+commit. The
    * iteration runs entirely on `spark` (Crawl.run passes the quiet
    * sibling for small batches) and every write has landed, manifest
    * last, when it returns. */
  def runIteration(spark: SparkSession, workdir: String, i: Int,
                   pages: Dataset[PageRow], robots: Dataset[RobotsRow],
                   hostMeta: Dataset[HostMeta], cfg: Config,
                   redirClosure: DataFrame = null): IterationResult = {
    val t0 = System.currentTimeMillis()
    val compiles0 = GraftShim.codegenCompiles
    val st = loadLoopState(spark, workdir, i - 1, cfg)
    val doled = schedulePhase(st, cfg, i)
    val fetched = fetchPhase(spark, st, doled, pages, robots, cfg, i, redirClosure, snapDir(workdir, i))
    val admitted = admitPhase(spark, st, fetched, hostMeta, cfg)
    commitPhase(spark, workdir, i, st, doled, fetched, admitted, cfg)
    val r = IterationResult(fetched.scheduled, fetched.fetched, fetched.robotsDenied,
      fetched.errors, admitted.newUrls, fetched.outlinks - admitted.newUrls)
    // the manifest lands last: a snapshot without one is not resumable
    writeManifest(workdir, i, Seq(MetricsRow(i, r.scheduled, r.fetched, r.robotsDenied,
      r.errors, r.newUrls, r.dupsDropped, System.currentTimeMillis() - t0,
      GraftShim.codegenCompiles - compiles0, spark.conf.get("spark.sql.shuffle.partitions").toInt,
      GraftShim.isQuiet(spark))))
    (Seq(doled.cached, fetched.cached) ++ admitted.caches).foreach(_.unpersist())
    r
  }

  /** The schedule phase's dole: winners plus, in the wake pass, one
    * waiting-tree sentinel per scanned IP (seq_in_ip == -1). */
  private final case class Doled(out: ScheduleOut, cached: DataFrame, dole: DataFrame)

  /** A3: due-IP pruned schedule with waiting-tree sentinels. The dole is
    * SMALL — persisted so fetch and the waiting-tree roll-forward don't
    * recompute the frontier scan, and lineage-cut: the cut view's plan
    * is a LogicalRDD leaf reading the cache, so downstream operator
    * construction (Catalyst analyzes EAGERLY per transformation) stops
    * re-walking the schedule tree, whose compiled rule table is a very
    * large expression — measured ~5 s/iteration of driver-side analysis
    * before the cut. Blocks evicted under pressure recompute through
    * the InMemoryRelation as usual. */
  private def schedulePhase(st: LoopState, cfg: Config, i: Int): Doled = {
    val so = scheduleWake(st.requests, st.replies, st.ipState, st.domState, cfg, i,
      st.inlinks, st.quotaState, st.ipNext)
    val cached = so.dole.persist(StorageLevel.MEMORY_AND_DISK)
    Doled(so, cached, GraftShim.cutLineage(cached))
  }

  /** The fetch phase's results (persisted + cut) and the outcome
    * counters read off the fetch_log write. */
  private final case class Fetched(cached: Dataset[FetchResult], results: Dataset[FetchResult],
                                   scheduled: Long, fetched: Long, robotsDenied: Long,
                                   outlinks: Long) {
    def errors: Long = scheduled - fetched - robotsDenied
  }

  /** Fetch the dole's batch, then write fetch_log with the outcome
    * counters FUSED into the same job via observe() — no separate stats
    * pass. The job also materializes the results cache every later
    * phase reads. */
  private def fetchPhase(spark: SparkSession, st: LoopState, doled: Doled,
                         pages: Dataset[PageRow], robots: Dataset[RobotsRow], cfg: Config,
                         i: Int, redirClosure: DataFrame, d: String): Fetched = {
    import spark.implicits._
    val batch = doled.dole.filter(col("seq_in_ip") >= 0).as[FetchTask]
    // old-doc sample vectors for percentChanged — slim titledb projection
    val cached = fetch(batch, pages, robots, cfg, i, redirClosure, st.titleVecs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val results = GraftShim.cutLineage(cached.toDF).as[FetchResult]
    val obs = org.apache.spark.sql.Observation()
    results
      .map(r => (i, r.task.first_ip, r.task.seq_in_ip, r.task.url, r.task.priority, r.errCode, r.outlinks.size))
      .toDF("iteration", "first_ip", "seq", "url", "priority", "err_code", "n_out")
      .observe(obs,
        count(lit(1)).as("scheduled"),
        sum(when(col("err_code") === lit(Errs.OK), 1L).otherwise(0L)).as("fetched"),
        sum(when(col("err_code") === lit(Errs.EDOCDISALLOWED), 1L).otherwise(0L)).as("robots_denied"),
        coalesce(sum(col("n_out").cast("long")), lit(0L)).as("outs"))
      .drop("n_out")
      .write.mode("overwrite").parquet(s"$d/fetch_log")
    val m = obs.get
    def n(k: String): Long = Option(m(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
    Fetched(cached, results, n("scheduled"), n("fetched"), n("robots_denied"), n("outs"))
  }

  /** The resolve+admit phase's output: this iteration's frontier delta
    * and the A7 inlink feed, all persisted (`caches`) so the concurrent
    * commit writes share them. */
  private final case class Admitted(resolved: Dataset[ResolvedOutlink],
                                    newPairs: DataFrame, // (first_ip, uh48, cblock)
                                    fresh: Dataset[FrontierRequest],
                                    revised: Dataset[FrontierRequest],
                                    newUrls: Long,
                                    caches: Seq[Dataset[_]])

  /** J5 outlink resolution, the A8 overflow guard, J2 admission and J4
    * within-batch dedup, plus the EFAKEFIRSTIP revised re-adds. */
  private def admitPhase(spark: SparkSession, st: LoopState,
                         f: Fetched, hostMeta: Dataset[HostMeta], cfg: Config): Admitted = {
    import spark.implicits._
    // A8 overflow guard: IPs with too many requests stop accepting
    // outlinks. Counts come from the per-IP table's incrementally
    // maintained `n` (identical values to a requests groupBy, without the
    // per-iteration O(frontier) scan).
    val overflowIps = st.ipCounts.filter(col("n") > cfg.overflowCap).select(col("first_ip").as("of_ip"))

    // J5: resolve outlink hosts via the host_meta + tagdb joins, then
    // drop those landing on overflowed IPs (A8)
    val resolvedP = resolveOutlinks(f.results, hostMeta, st.tagState)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val resolved = GraftShim.cutLineage(resolvedP.toDF).as[ResolvedOutlink]
    val candidates = resolved.map(_.req)
      .join(overflowIps, col("first_ip") === col("of_ip"), "left_anti")
      .as[FrontierRequest]

    // J2: the candidates are tagged by the bloom ONCE (persisted — three
    // consumers); the bloom-POSITIVE ones pay the exact anti-join against
    // the requests chain, the URL-seen set itself (a url is seen exactly
    // when spiderdb holds a request for it).
    val taggedP = SeenBloom.tagged(candidates, st.bloom, cfg.seenBuckets)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fresh = dedupBatch(admitTagged(taggedP, st.requests.toDF()).toDF())

    // revised re-adds for this iteration's EFAKEFIRSTIP answers (the
    // reference counts these as re-shards, not new urls —
    // Spider.cpp:4279-4282 skips fakeFirstIp in m_totalNewSpiderRequests)
    val revised = resolveRevised(
      f.results.filter(_.errCode == Errs.EFAKEFIRSTIP), st.requests, hostMeta, st.tagState)

    // A7: inlink c-block accumulation — every outlink DISCOVERY counts
    // (pre-admission, like the reference's spiderdb request rows), except
    // those dropped by the A8 overflow guard.
    val newPairs = resolved
      .map(r => (r.req.first_ip, r.req.uh48, r.parent_cblock))
      .toDF("first_ip", "uh48", "cblock")
      .join(overflowIps, col("first_ip") === col("of_ip"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // fresh/revised are persisted so the delta, bloom and A8-count
    // writes all derive from the SAME admitted rows. ONE
    // shuffle-free job materializes BOTH caches, uncontended, before the
    // concurrent commit writes (otherwise the first write to touch them
    // pays the whole admission chain while its siblings fight it for
    // task slots) and returns the fresh count — the new-url metric
    // (per-partition tallies summed on the driver: a count() each would
    // be two jobs, and an agg() would shuffle).
    val freshP = fresh.persist(StorageLevel.MEMORY_AND_DISK)
    val revisedP = revised.persist(StorageLevel.MEMORY_AND_DISK)
    val freshCut = GraftShim.cutLineage(freshP.toDF).as[FrontierRequest]
    val revisedCut = GraftShim.cutLineage(revisedP.toDF).as[FrontierRequest]
    val newUrls = {
      import org.apache.spark.sql.Encoders
      freshCut.toDF().select(lit(0).as("t"))
        .unionByName(revisedCut.toDF().select(lit(1).as("t")))
        .as[Int](Encoders.scalaInt)
        .mapPartitions { it =>
          var n = 0L; it.foreach(t => if (t == 0) n += 1); Iterator(n)
        }(Encoders.scalaLong)
        .collect().sum
    }
    Admitted(resolved, newPairs, freshCut, revisedCut, newUrls,
      Seq(resolvedP, taggedP, newPairs, freshP, revisedP))
  }

  /** J4: within-batch dedup with the same merge semantics as the
    * reference's scan-time duplicate merge (Spider.cpp:4799-4836): min
    * hop/discovery, OR of flags (a ParentIsRSS discovery must survive a
    * same-batch section discovery of the same url), max sni/errors.
    * Native struct aggregate (same shape as J1's latest-reply max) — no
    * object serialization on the candidate path: base row = max
    * added_time, tie → min parent_doc_id, with the whole-row struct as a
    * deterministic final tiebreak. */
  private def dedupBatch(adm: DataFrame): Dataset[FrontierRequest] = {
    import adm.sparkSession.implicits._
    val rowStruct = struct(adm.columns.map(col): _*)
    adm.groupBy("uh48").agg(
        max(struct(col("added_time"), (-col("parent_doc_id")).as("npdi"),
          rowStruct.as("row"))).as("m"),
        min(col("hop_count")).as("min_hop"),
        min(col("discovery_time")).as("min_disc"),
        expr("bit_or(flags)").as("or_flags"),
        max(col("site_num_inlinks")).as("max_sni"),
        max(col("err_count")).as("max_err"))
      .select(col("m.row.uh48"), col("m.row.first_ip"), col("m.row.url"),
        col("m.row.host_hash32"), col("m.row.dom_hash32"),
        col("m.row.site_hash32"),
        col("max_sni").as("site_num_inlinks"),
        col("m.row.added_time"),
        col("min_disc").as("discovery_time"),
        col("min_hop").as("hop_count"),
        col("m.row.parent_lang"),
        col("or_flags").as("flags"),
        col("max_err").as("err_count"),
        col("m.row.parent_doc_id"))
      .as[FrontierRequest]
  }

  /** One keyed table's roll-forward (StateTable): `merge` combines the
    * prior rows of the buckets `delta` touches with the delta under the
    * table's own semantics, and only those buckets are written forward
    * — untouched buckets are never shuffled or rewritten. */
  private final case class StateMerge(table: KeyedTable, prior: DataFrame, delta: DataFrame,
                                      buckets: Int, merge: DataFrame => DataFrame)

  /** Roll keyed tables forward into snapshot dir `d`: ONE fused job
    * finds every table's touched buckets (one one-task job per table
    * costs more than the scans at micro scale), then one concurrent job
    * per table merges and writes its touched buckets. `dynamic` keeps
    * the buckets `d` already holds (StateTable.writeDelta). */
  private def rollForward(merges: Seq[StateMerge], d: String,
                          dynamic: Boolean = false): Seq[scala.concurrent.Future[Unit]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val touched = Future(StateTable.touchedBucketsMulti(merges.map(m =>
      (m.delta, (df: DataFrame) => Seq(df(m.table.key)), m.buckets))))
    merges.zipWithIndex.map { case (m, k) =>
      Future {
        val ids = Await.result(touched, Duration.Inf)(k)
        val prior =
          if (ids.isEmpty) m.prior.limit(0)
          else m.prior.filter(StateTable.bucketCol(Seq(m.prior(m.table.key)), m.buckets).isInCollection(ids))
        StateTable.writeDelta(m.merge(prior), Seq(col(m.table.key)), m.buckets,
          s"$d/${m.table.name}", dynamic)
      }
    }
  }

  /** The seen bloom's merge: the uh48s' bits are set in their bloom
    * buckets (a delta row is the bloom bucket an uh48 lands in). */
  private def bloomMerge(prior: DataFrame, uh48s: DataFrame, buckets: Int, cfg: Config): StateMerge =
    StateMerge(Keyed.bloom, prior, uh48s.select(SeenBloom.bucketCol(col("uh48"), cfg.seenBuckets)),
      buckets, p => SeenBloom.update(p, uh48s.select("uh48").as(Encoders.LONG),
        cfg.seenBuckets, cfg.expectedSeenPerBucket, cfg.bloomFpp))

  /** The five keyed tables' merges for this iteration. */
  private def stateMerges(spark: SparkSession, st: LoopState, f: Fetched, a: Admitted,
                          cfg: Config, i: Int): Seq[StateMerge] = {
    import spark.implicits._
    val results = f.results
    def sm(t: KeyedTable, prior: DataFrame, delta: DataFrame)(merge: DataFrame => DataFrame) =
      StateMerge(t, prior, delta, st.buckets(t.name), merge)

    // robots crawl delay per dom (the per-IP politeness state is in
    // the per-IP table, ipTableRollForward)
    val domUpdates = results
      .filter(_.crawlDelayMs >= 0)
      .map(r => DomState(GbUrl.parse(r.task.url).domHash32, r.crawlDelayMs)).toDF()

    // tagdb maintenance, three delta streams merged into tag_state:
    //  (a) updateTagdb at index time (XmlDoc.cpp updateTagdb): the doc's
    //      SiteGetter site gets its "site" tag; the doc's ip pins the
    //      firstip tag if this is the key's first row
    //  (b) firstip pinning at outlink-resolution time (Spider.h:108-118:
    //      "when we lookup the ip address of the subdomain of an outlink
    //      for the first time we store that ip address into tagdb")
    //  (c) linkdb accrual: the parent's /24 c-block counts toward the
    //      linkee's RESOLVED site (linkdb keys embed the warm/cold
    //      getLinkSiteHashes site, so cold-keyed links accrue under the
    //      raw host — quirk preserved)
    val docTags = results
      .filter(r => r.errCode == Errs.OK && r.found)
      .map { r =>
        val site = graft.core.SiteGetter.site(r.task.url)
        // never pin a FAKE firstip (injection/reindex tasks run under a
        // docid-derived ip; the reference's getFirstIp pins the real DNS
        // ip, XmlDoc.cpp:14157-14176)
        val pinIp = if (Flags.has(r.task.req_flags, Flags.FakeFirstIp)) 0 else r.task.first_ip
        TagState(GbHash.hash32(site), site, pinIp, has_site_tag = true, Array.empty[Int], i)
      }
    val pinTags = a.resolved.map(r =>
      TagState(r.tag_key_hash32, r.tag_key, r.req.first_ip, has_site_tag = false, Array.empty[Int], i))
    val linkTags = a.resolved.map(r =>
      TagState(r.link_site_hash32, r.link_site, 0, has_site_tag = false, Array(r.parent_cblock), i))
    val tagDelta = docTags.union(pinTags).union(linkTags)

    // A6 quota-state roll-forward (m_localTable, Spider.cpp:4355-4421):
    //  - one vote per NEWLY indexed url → firstIp, siteHash32, domHash32
    //    keys (the was_indexed flag makes the transition O(batch)); a
    //    reindex re-fetch runs under a fake ip whose reply join can't
    //    see the prior OK reply, so it is gated on the flag too (the
    //    reference votes once per unique uh48)
    //  - one vote per answered manual add (the revised non-fake request;
    //    fake-firstIp rows are skipped like the reference's
    //    `if (sreq->m_fakeFirstIp) continue`) → the ^0x123456 seed keys
    val indexedKeys = results
      .filter(r => r.errCode == Errs.OK && !r.task.was_indexed &&
        !Flags.has(r.task.req_flags, Flags.IsPageReindex))
      .flatMap(r => Seq(r.task.first_ip, r.task.site_hash32, r.task.dom_hash32))
      .toDF("key")
    val manualKeys = a.revised.toDF()
      .filter(col("flags").bitwiseAND(lit(Flags.IsAddUrl | Flags.IsInjecting)) =!= 0)
      .select(explode(array(
        col("site_hash32").bitwiseXOR(lit(0x123456)),
        col("dom_hash32").bitwiseXOR(lit(0x123456)))).as("key"))
    val quotaDelta = indexedKeys.unionByName(manualKeys)
      .groupBy("key").agg(count(lit(1)).as("n"))

    Seq(
      sm(Keyed.dom, st.domState.toDF(), domUpdates) { p =>
        p.withColumn("stamp", lit(0))
          .unionByName(domUpdates.withColumn("stamp", lit(1)))
          .groupBy("dom_hash32")
          .agg(max(struct(col("stamp"), col("crawl_delay_ms"))).as("s"))
          .select(col("dom_hash32"), col("s.crawl_delay_ms").as("crawl_delay_ms"))
      },
      // A7, merged per (first_ip, uh48) with a 20-cap
      sm(Keyed.inlinks, st.inlinks.toDF(), a.newPairs) { p =>
        p.select(col("first_ip"), col("uh48"), explode(col("cblocks")).as("cblock"))
          .unionByName(a.newPairs)
          .groupBy("first_ip", "uh48")
          .agg(slice(sort_array(collect_set(col("cblock"))), 1, 20).as("cblocks"))
      },
      sm(Keyed.tags, st.tagState.toDF(), tagDelta.toDF()) { p =>
        p.as[TagState].union(tagDelta)
          .groupByKey(_.site_hash32)
          .reduceGroups((x, y) => combineTags(x, y, SiteInlinkCap))
          .map(_._2).toDF()
      },
      sm(Keyed.quota, st.quotaState, quotaDelta) { p =>
        p.unionByName(quotaDelta).groupBy("key").agg(sum(col("n")).as("n"))
      },
      // every admitted uh48 (fresh and revised) sets its bloom bits
      bloomMerge(st.bloom, a.fresh.toDF().select("uh48").unionByName(a.revised.toDF().select("uh48")),
        st.buckets(Keyed.bloom.name), cfg))
  }

  /** Merge + commit: every snapshot-i write as ONE flat batch of
    * concurrent jobs (results and the admitted rows are cached, so the
    * jobs share partitions instead of recomputing the fetch). Each job
    * builds its own plan on its own thread — driver-side analysis of
    * the ~10 plans overlaps instead of adding up. */
  private def commitPhase(spark: SparkSession, workdir: String, i: Int, st: LoopState,
                          doled: Doled, f: Fetched, a: Admitted, cfg: Config): Unit = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val d = snapDir(workdir, i)
    val writes = rollForward(stateMerges(spark, st, f, a, cfg, i), d) ++ Seq(
      Future { a.fresh.toDF().unionByName(a.revised.toDF()).write.mode("overwrite").parquet(s"$d/requests_delta") },
      Future { repliesOf(f.results, st.replies, cfg, i).write.mode("overwrite").parquet(s"$d/replies_delta") },
      Future {
        ipTableRollForward(st, doled, f, a)
          .write.mode("overwrite").parquet(s"$d/ip_table")
        // the marker says next_ms was rolled forward under these rules
        if (doled.out.wake) writeIpTableMarker(workdir, i, cfg)
        else Files.deleteIfExists(ipTableMarker(workdir, i).toPath)
      },
      Future {
        // S7: titledb sink — the crawled-content snapshot (Titledb.cpp
        // titleRec analogue): raw bytes + extracted text per fetched
        // url, appended as a delta; compaction keeps latest per uh48
        f.results.filter(_.found)
          .map(r => TitleRow(r.task.uh48, r.task.url, nowSecs(cfg, i),
            r.httpStatus, r.lang, r.contentHash32, r.html, r.extractedText,
            if (r.sampleVec == null) Array.empty[Int] else r.sampleVec))
          .write.mode("overwrite").parquet(s"$d/titledb_delta")
      })
    Await.result(Future.sequence(writes), Duration.Inf)
  }

  private def writeIpTableMarker(workdir: String, i: Int, cfg: Config): Unit =
    Files.write(ipTableMarker(workdir, i).toPath, rulesFingerprint(cfg).getBytes("UTF-8"))

  /** The per-IP table's roll-forward, one groupBy (mergeIpTable) over:
    *  - the prior table's politeness and A8 state;
    *  - this batch's download ends (latest per IP wins);
    *  - the admitted rows, one count each (A8);
    *  - with wake maintenance, the A3 waiting tree as a priority-layered
    *    upsert: prior entries (0, only when still valid under these
    *    rules) < due-but-now-empty IPs (1, sleep forever until touched —
    *    their rows were compacted away or F7/force-delete-only) <
    *    freshly scanned minima (2) < TOUCHED IPs (3, due next
    *    iteration: new/revised requests, replies+politeness state from
    *    this batch, inlink-count changes — every channel that can move
    *    a row's spider time or ufn). Without it, next_ms is null. */
  private def ipTableRollForward(st: LoopState, doled: Doled, f: Fetched, a: Admitted): DataFrame = {
    val downloads = f.results.toDF().select(col("task.first_ip").as("first_ip"), col("downloadEndMs"))
    val admitted = a.fresh.select("first_ip").unionByName(a.revised.select("first_ip"))
    val wake =
      if (!doled.out.wake) Nil
      else {
        val touched = downloads.select("first_ip")
          .unionByName(admitted)
          .unionByName(a.newPairs.select("first_ip"))
        st.ipNext.map(ipLayer(_, pri = lit(0), next = col("next_ms"))).toSeq ++
          doled.out.dueIps.map(ipLayer(_, pri = lit(1), next = lit(Long.MaxValue))) ++
          Seq(ipLayer(doled.dole.filter(col("seq_in_ip") === -1), pri = lit(2),
              next = col("spider_time_ms")),
            ipLayer(touched, pri = lit(3), next = lit(0L)))
      }
    mergeIpTable(Seq(
      ipLayer(st.ipState.toDF(), last = col("last_download_end_ms")),
      ipLayer(st.ipCounts, n = col("n")),
      ipLayer(downloads, last = col("downloadEndMs")),
      ipLayer(admitted, n = lit(1L))) ++ wake)
  }

  /** J3: frontier compaction — dedupSpiderdbList (Spider.cpp:13609-13823):
    * rewrite the delta chain into one full table, one request per
    * (uh48, signature) keeping the OLDEST addedTime (discovery
    * semantics); latest reply per uh48. This is the RdbMerge analogue. */
  def compact(spark: SparkSession, workdir: String, i: Int, cfg: Config): Unit = {
    import spark.implicits._
    val d = snapDir(workdir, i)
    val requests = loadRequests(spark, workdir, i)
    val replies = loadReplies(spark, workdir, i)
    val dedupedRep = latestReplies(replies)
    // one-hit wonders (Spider.cpp:13721-13729): a page-reindex or
    // fake-firstIp request whose url has since been spidered (a reply
    // under the same (firstIp, uh48) newer than its addedTime) is
    // dropped — the reindex was served; the fake request was re-added
    // under the real ip by resolveRevised
    val answered = dedupedRep.toDF()
      .select(col("first_ip").as("r_ip"), col("uh48").as("r_uh48"),
        col("spidered_time").as("r_time"))
    val oneHitMask = Flags.IsPageReindex | Flags.FakeFirstIp
    val liveReq = requests.toDF()
      .join(answered, col("first_ip") === col("r_ip") && col("uh48") === col("r_uh48"), "left_outer")
      .filter(!(col("flags").bitwiseAND(lit(oneHitMask)) =!= 0L &&
        col("r_time").isNotNull && col("r_time") > col("added_time")))
      .drop("r_ip", "r_uh48", "r_time")
      .as[FrontierRequest]
    // coexistence signature (Spider.cpp:13779-13789): siteHash32,
    // hopCount, isNewOutlink, isInjecting, hasContent, isAddUrl,
    // isPageReindex, forceDelete — different enough to map the url to a
    // different priority, so both survive; otherwise keep the OLDEST
    // addedTime (discovery semantics, :13795-13800). Keyed per
    // (first_ip, uh48) like the reference's SHARD-local dedup (spiderdb
    // keys lead with firstIp; a url re-sharded under another ip is a
    // different record) — also the better shuffle key: co-partitioned
    // with every other frontier exchange.
    val sigMask = Flags.IsNewOutlink | Flags.IsInjecting | Flags.IsAddUrl |
      Flags.IsPageReindex | Flags.HasContent | Flags.ForceDelete
    val dedupedReq = liveReq
      .groupByKey(r => (r.first_ip, r.uh48, r.site_hash32, r.hop_count, r.flags & sigMask))
      .reduceGroups((a, b) => if (a.added_time <= b.added_time) a else b)
      .map(_._2)
    // the table rewrites are independent — run them as concurrent jobs
    // (same shape as the iteration write graph); the per-IP counts and
    // the seen bloom rebuild from the compacted requests
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fReq = Future {
        dedupedReq.write.mode("overwrite").parquet(s"$d/requests_full_tmp")
        val compacted = spark.read.parquet(s"$d/requests_full_tmp")
        // compaction drops rows; an IP left with no rows gets a null count
        mergeIpTable(Seq(priorIpLayer(loadIpTable(spark, workdir, i), n = lit(null)),
            ipLayer(compacted, n = lit(1L))))
          .write.mode("overwrite").parquet(s"$d/ip_table_full_tmp")
        compacted
      }
      val fRep = Future { dedupedRep.write.mode("overwrite").parquet(s"$d/replies_full_tmp") }
      val fTitle = Future { loadTitledb(spark, workdir, i).write.mode("overwrite").parquet(s"$d/titledb_full_tmp") }
      // keyed chain resets (the RdbMerge analogue for the StateTable
      // chains): one bucketed FULL write per table, so loads stop
      // walking the delta chain here. The bloom rebuilds FROM GROUND
      // TRUTH, the compacted requests, and so sheds the fill of
      // since-compacted rows (fpp hygiene).
      val fKeyed = Keyed.all.map { t =>
        Future {
          val rows = t.fromRequests.fold(t.load(spark, workdir, i))(
            _(Await.result(fReq, Duration.Inf), cfg))
          // re-size the bucket count to the chain's measured bytes: the
          // full write records it, so the next chain's deltas and loads
          // inherit it (a grown table gets more buckets here, a
          // compacted-away one shrinks back toward 1)
          val nb = StateTable.bucketsForBytes(StateTable.chainBytes(workdir, i, t.name))
          StateTable.writeFull(rows, Seq(col(t.key)), nb, s"$d/${t.name}_full_tmp")
        }
      }
      Await.result(Future.sequence(Seq(fReq, fRep, fTitle) ++ fKeyed), Duration.Inf)
    }
    // swap in: the full table replaces this snapshot's delta. The full
    // targets are deleted too — hadoop rename(src, existing-dir) would
    // otherwise nest src INSIDE the target (re-compaction of an
    // already-compacted snapshot, e.g. after an inject-appended delta)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def path(name: String) = new org.apache.hadoop.fs.Path(s"$d/$name")
    Seq("requests_delta", "replies_delta", "titledb_delta").foreach(n => fs.delete(path(n), true))
    (Seq("requests", "replies", "titledb", "ip_table") ++ Keyed.all.map(_.name)).foreach { name =>
      fs.delete(path(name), true)
      fs.rename(path(s"${name}_full_tmp"), path(name))
    }
  }

  /** Bootstrap snapshot 0 from seeds (full tables). */
  def init(spark: SparkSession, workdir: String, seedUrls: Seq[String], cfg: Config): Unit = {
    import spark.implicits._
    val compiles0 = GraftShim.codegenCompiles
    val d = snapDir(workdir, 0)
    seeds(spark, seedUrls, cfg).write.mode("overwrite").parquet(s"$d/requests")
    val requests = spark.read.parquet(s"$d/requests")
    // per-IP table: seed counts (A8), and all seed IPs are immediately
    // due (A3)
    mergeIpTable(Seq(ipLayer(requests, n = lit(1L), pri = lit(0), next = lit(0L))))
      .write.mode("overwrite").parquet(s"$d/ip_table")
    writeIpTableMarker(workdir, 0, cfg)
    spark.emptyDataset[FrontierReply].write.mode("overwrite").parquet(s"$d/replies")
    // keyed tables: each chain's first full write (the StateTable
    // chain terminator; an empty table is a marker-only dir) at ONE
    // bucket — one file, one task per write; the first compaction
    // after growth re-sizes from measured bytes
    Keyed.all.foreach { t =>
      StateTable.writeFull(t.fromRequests.fold(t.empty(spark))(_(requests, cfg)),
        Seq(col(t.key)), 1, s"$d/${t.name}")
    }
    spark.emptyDataset[TitleRow].write.mode("overwrite").parquet(s"$d/titledb")
    Seq.empty[(Int, Int, Int, String, Int, Int)].toDF("iteration", "first_ip", "seq", "url", "priority", "err_code")
      .write.mode("overwrite").parquet(s"$d/fetch_log")
    writeManifest(workdir, 0, Seq(MetricsRow(0, 0, 0, 0, 0, seedUrls.size, 0, 0,
      GraftShim.codegenCompiles - compiles0, spark.conf.get("spark.sql.shuffle.partitions").toInt,
      GraftShim.isQuiet(spark))))
  }

  /** S2: injection — push urls straight into the frontier with the
    * IsInjecting flag (PageInject.cpp; flags Spider.h:604-605). Injected
    * requests bypass politeness scheduling on first fetch
    * (getSpiderTimeMS, Spider.cpp:5976-5977). Appends a delta to the
    * latest snapshot. */
  def inject(spark: SparkSession, workdir: String, urls: Seq[String], cfg: Config): Long = {
    import spark.implicits._
    val i = latestSnapshot(workdir).getOrElse(0)
    val now = nowSecs(cfg, i)
    injectRequests(spark, workdir,
      spark.createDataset(urls.flatMap(seedRequest(_, now)))
        .map(r => r.copy(flags = (r.flags | Flags.IsInjecting) & ~Flags.IsAddUrl)),
      cfg)
  }

  /** Dataset core of S2 injection — also the streaming intake sink
    * (SeedStream, which must NOT collect micro-batches to the driver)
    * and the S3 reindex path. Appends a delta to the latest snapshot and
    * keeps the seen bloom a superset; callers set their own flag bits
    * (IsInjecting / IsPageReindex). */
  def injectRequests(spark: SparkSession, workdir: String,
                     requests: Dataset[FrontierRequest], cfg: Config): Long = {
    import spark.implicits._
    val i = latestSnapshot(workdir).getOrElse(0)
    val reqs = requests.persist(StorageLevel.MEMORY_AND_DISK)
    // unlike outlink admission, injections are NOT dropped for already-seen
    // urls (the reference's dup cache salts its key with the isInjecting
    // flag, Spider.cpp:2147-2211); only an exact (first_ip, uh48) record —
    // the injected fake-ip shard slot — dedups, preserving the engine's
    // composite-key uniqueness invariant
    val existing = loadRequests(spark, workdir, i).select("first_ip", "uh48")
    val fresh = reqs
      .dropDuplicates("first_ip", "uh48")
      .join(existing, Seq("first_ip", "uh48"), "left_anti")
      .as[FrontierRequest]
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = fresh.count()
    val d = snapDir(workdir, i)
    // the bloom must gain the injected uh48s through the iteration's
    // touched-bucket merge: it must stay a SUPERSET of every request
    // uh48, or a future bloom-negative would skip the exact anti-join
    // and re-admit. Dynamic overwrite leaves this snapshot's other
    // buckets (and a FULL marker) intact.
    rollForward(Seq(bloomMerge(Keyed.bloom.load(spark, workdir, i), fresh.toDF().select("uh48"),
      StateTable.bucketsOf(workdir, i, Keyed.bloom.name), cfg)), d, dynamic = true)
      .foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    // per-IP table: A8 counts for the injected rows, and (when the
    // snapshot maintains the waiting tree) an injected IP must wake the
    // scheduler next iteration, or the due-IP prefilter would never
    // scan its new rows
    val wake =
      if (!ipTableMarker(workdir, i).exists) Nil
      else Seq(ipLayer(reqs.toDF(), pri = lit(1), next = lit(0L)))
    mergeIpTable(Seq(priorIpLayer(loadIpTable(spark, workdir, i)),
        ipLayer(fresh.toDF(), n = lit(1L))) ++ wake)
      .write.mode("overwrite").parquet(s"$d/ip_table_tmp")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$d/ip_table"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$d/ip_table_tmp"), new org.apache.hadoop.fs.Path(s"$d/ip_table"))
    // the requests delta lands LAST: appending to it re-caches every
    // cached plan that reads the path — `fresh` included, whose
    // anti-join would then see its own rows and come back empty for
    // any write still to run. This order also keeps a crash safe: the
    // bloom may cover more than the requests, never less.
    val target = s"$d/requests_delta"
    val mode = if (new java.io.File(target).exists) "append" else "overwrite"
    fresh.write.mode(mode).parquet(target)
    fresh.unpersist()
    reqs.unpersist()
    n
  }

  /** S3: query-reindex entry (PageReindex.cpp): push already-crawled
    * urls back into the frontier with IsPageReindex — the isreindex rule
    * (priority 80) schedules them immediately (getSpiderTimeMS skips the
    * respider wait, Spider.cpp:5976-5977), and the next fetch refreshes
    * the titledb record. */
  def reindex(spark: SparkSession, workdir: String, urls: Seq[String], cfg: Config): Long = {
    import spark.implicits._
    val i = latestSnapshot(workdir).getOrElse(0)
    val now = nowSecs(cfg, i)
    val reqs = urls.flatMap(seedRequest(_, now))
      .map(r => r.copy(flags = (r.flags | Flags.IsPageReindex) & ~Flags.IsAddUrl))
    injectRequests(spark, workdir, spark.createDataset(reqs), cfg)
  }

  /** Run (or resume) a crawl for `iterations` steps. */
  def run(spark: SparkSession, workdir: String, spec: Corpus.Spec, iterations: Int,
          cfg: Config = Config(), compactEvery: Int = 4,
          seedUrls: Seq[String] = Nil): Seq[IterationResult] = {
    val pages = Corpus.pages(spark, spec).persist(StorageLevel.MEMORY_AND_DISK)
    val robots = Corpus.robots(spark, spec)
    val hostMeta = Corpus.hostMeta(spark, spec)
    // redirect chains resolve ONCE per run (dim-table closure)
    val redirClosure = redirectClosure(Corpus.redirects(spark, spec))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val start = latestSnapshot(workdir) match {
      case None =>
        init(spark, workdir, if (seedUrls.nonEmpty) seedUrls else Corpus.seeds(spec), cfg); 1
      case Some(n) => n + 1
    }
    // A9: collection-level crawl status (CollectionRec::m_spiderStatus).
    // Rounds increment at exhaustion boundaries (spiderRoundIncremented,
    // Spider.cpp:14296: ROUNDDONE when a dole cycle schedules nothing);
    // the caps stop the loop like the reference stops doling.
    var downloaded = 0L
    var round = 1
    var stopStatus = -1
    // micro-batch iterations run END-TO-END on a quiet sibling session
    // (GraftShim.quietSession): under AQE every query-stage
    // materialization is its own Spark job, at small batches the loop
    // is bound by fixed cost, not work (80 → 50 jobs/iter measured from
    // AQE alone), and generated code and idle shuffle partitions are
    // more of the same fixed cost. AQE, codegen and partition count
    // change only execution: rows are the same. Big batches keep the
    // caller's session: skew-join splitting and partition coalescing
    // are the 100×-scale story there. Gated on the PREVIOUS iteration's
    // scheduled count (seeds for the first; a resume without that
    // signal stays on the caller's session). The partitions are sized
    // from the larger of that batch and the state tables the iteration
    // shuffles whole, so a big frontier behind small batches keeps its
    // parallelism. Compaction always runs on the caller's session.
    var lastSched: Long =
      if (start == 1) (if (seedUrls.nonEmpty) seedUrls else Corpus.seeds(spec)).size.toLong
      else Long.MaxValue
    val out = scala.collection.mutable.ListBuffer[IterationResult]()
    var i = start
    while (i < start + iterations && stopStatus < 0) {
      val iterSpark =
        if (lastSched < GraftShim.QuietBatchRows)
          GraftShim.quietSession(spark, math.max(lastSched, stateRows(spark, workdir, i - 1)))
        else spark
      val r0 = runIteration(iterSpark, workdir, i, pages, robots, hostMeta, cfg, redirClosure)
      lastSched = r0.scheduled
      downloaded += r0.fetched
      val status = SpiderStatus.convert(cfg.maxToCrawl, downloaded,
        cfg.maxRounds, round, r0.scheduled)
      if (status == SpiderStatus.RoundDone || status == SpiderStatus.MaxRounds)
        round += 1
      if (status == SpiderStatus.MaxToCrawl || status == SpiderStatus.MaxRounds)
        stopStatus = status
      writeStatus(workdir, i, status, downloaded, round)
      if (i % compactEvery == 0) compact(spark, workdir, i, cfg)
      out += r0.copy(status = status)
      i += 1
    }
    redirClosure.unpersist()
    pages.unpersist()
    out.toSeq
  }

  /** A9: collection-level status file (the m_spiderStatus analogue --
    * status lives on the collection, not in any snapshot table). */
  def writeStatus(workdir: String, i: Int, status: Int, downloaded: Long, round: Int): Unit =
    Files.writeString(Paths.get(s"$workdir/STATUS.json"),
      s"""{"iteration":$i,"spider_status":$status,"status_msg":"${SpiderStatus.msg(status)}","downloaded":$downloaded,"round":$round}""")
}
