package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.frontier.{Crawl, Flags, FrontierReply, FrontierRequest}

/** Compiles a URL-filter rule table into native Catalyst Column
  * expressions so the scheduler's scoring runs inside whole-stage codegen
  * with zero per-row object allocation (SURVEY §2.2 F1: "a compiled
  * when/otherwise Column chain"). The chain (`compile`) yields a row's
  * `ufn`, the first matching rule; the caller projects it once as a
  * column, and the per-rule lookups (`attrs`, `spiderTimeCol`) read that
  * column, so the table is evaluated once per row.
  *
  * `compile` takes every rule table. A token with a native form compiles
  * to it (`insitelist` too: [[SiteList.matchColumn]]); any other token
  * (`tag:`, configured ucp/upp patterns, `lang`, `tld`, `parentlang`,
  * `age`, the quota counts, ...) compiles to the generic bridge, a UDF
  * that runs the interpreter's own `UrlFilters.evalToken` on the row,
  * whose context `ctx` is built from the same site list `sl`. Semantics are
  * cross-validated against the reference-exact interpreter
  * (`UrlFilters.urlFilterNum`) by generated rule tables.
  *
  * Input columns (the scheduler's joined row):
  *  - request: url, hop_count, flags, added_time, discovery_time,
  *    site_num_inlinks, err_count, page_num_inlinks (0 today)
  *  - reply (nullable): rep_exists, rep_spidered_time, rep_err_code,
  *    rep_err_count, rep_http_status
  *  - politeness: last_download_end_ms (−1 none), dom_crawl_delay_ms (−1) */
object RuleCompiler {

  /** `now` is the scan's clock in seconds. The bridge reads `request` (a
    * FrontierRequest struct, HadReply set when a reply exists), `reply`
    * (the latest FrontierReply struct, null if none; the caller carries
    * it only when [[bridged]]) and `quota`, the four A6 counts
    * (site pages, domain pages, site adds, domain adds). */
  final case class Cols(
      url: Column, hopCount: Column, flags: Column,
      addedTime: Column, discoveryTime: Column,
      siteNumInlinks: Column, pageNumInlinks: Column,
      repExists: Column, repSpideredTime: Column, repErrCode: Column,
      repErrCount: Column, repHttpStatus: Column,
      now: Long,
      request: Column, reply: Column, quota: Column)

  /** A rule's scheduling attributes, looked up by a row's `ufn`. */
  final case class Attrs(priority: Column, forceDelete: Column, ipMaxSpiders: Column,
                         ipWaitMs: Column, spiderFreqDays: Column)

  @inline private def bit(flags: Column, b: Long): Column = (flags.bitwiseAND(lit(b)) =!= lit(0L))

  private def tokens(r: UrlFilterRule): Seq[String] = r.expr.split("&&").map(_.trim).toSeq

  private[graft] def unNegated(tok: String): String =
    if (tok.startsWith("!") && !tok.startsWith("!=")) tok.substring(1).trim else tok

  /** A token as a predicate Column: its native form, or the bridge. */
  private def compileToken(tok: String, c: Cols, ctx: RuleCtx, sl: SiteList): Column =
    nativeToken(tok, c, ctx, sl).getOrElse(bridge(tok, c, ctx))

  /** The bridge: `tok`, raw (`!` included), evaluated per row by the
    * interpreter's own `evalToken` on the row's UfnRequest/UfnReply,
    * built as `Crawl.scheduleInterpreted` builds them. A row-skip fails
    * the token like false; an abort never reaches here (see [[aborts]]). */
  private def bridge(tok: String, c: Cols, ctx: RuleCtx): Column = {
    val now = c.now
    val eval = udf { (req: FrontierRequest, rep: FrontierReply, hasRep: Boolean, pni: Int, q: (Int, Int, Int, Int)) =>
      val (ur, urep) = Crawl.ufnInputs(req, Option.when(hasRep)(rep), pni, q)
      UrlFilters.evalToken(tok, ur, urep, now, ctx) == UrlFilters.Bool(true)
    }
    // a null struct does not decode to a case class: no reply is a flag
    eval(c.request, coalesce(c.reply, NoReply), c.reply.isNotNull, c.pageNumInlinks, c.quota)
  }

  private val NoReply = typedLit(FrontierReply(0L, 0, 0L, 0, 0, 0, 0L, "", 0, 0f, 0L, 0))

  /** Does `tok` abort the whole filter run? The interpreter's one abort
    * (`domainpages` with no quota table, Spider.cpp:12797) depends on the
    * token and the context alone, never on the row, so one probe row
    * answers for every row. A token whose comparison value does not
    * parse throws on the rows that reach it, here and in the interpreter
    * alike, so it is not an abort. */
  private def aborts(tok: String, ctx: RuleCtx): Boolean =
    try UrlFilters.evalToken(tok, UfnRequest("", 0), None, 0L, ctx) == UrlFilters.Abort
    catch { case _: NumberFormatException => false }

  /** Whether any token of `rules` compiles to the bridge: only then
    * does the caller carry the full latest reply in `Cols.reply` (the
    * native reply tokens read the rep_* columns). */
  def bridged(rules: IndexedSeq[UrlFilterRule], c: Cols, ctx: RuleCtx, sl: SiteList): Boolean =
    rules.exists(tokens(_).exists(nativeToken(_, c, ctx, sl).isEmpty))

  /** A token's native form, or None: the token then takes the bridge. */
  private def nativeToken(tokIn: String, c: Cols, ctx: RuleCtx, sl: SiteList): Option[Column] = {
    var tok = tokIn
    var neg = false
    if (tok.startsWith("!") && !tok.startsWith("!=")) { neg = true; tok = tok.substring(1).trim }
    def fin(col: Column): Option[Column] = Some(if (neg) !col else col)

    val hadReply = bit(c.flags, Flags.HadReply) || c.repExists

    if (tok.startsWith("isreindex")) return fin(bit(c.flags, Flags.IsPageReindex))
    if (tok.startsWith("ismanualadd"))
      return fin(bit(c.flags, Flags.IsAddUrl) || bit(c.flags, Flags.IsInjecting) || bit(c.flags, Flags.IsPageReindex))
    // an empty site list always matches (Spider.cpp:12031-12038)
    if (tok.startsWith("insitelist")) return fin(if (sl.isEmpty) lit(true) else sl.matchColumn(c.url))
    // unconfigured → always passes, '!' ignored; configured patterns
    // match through the bridge
    if (tok.startsWith("matchesucp")) return Option.when(!ctx.patterns.ucpConfigured)(lit(true))
    if (tok.startsWith("matchesupp")) return Option.when(!ctx.patterns.uppConfigured)(lit(true))
    if (tok.startsWith("isaddurl")) return fin(bit(c.flags, Flags.IsAddUrl))
    if (tok.startsWith("isinjected")) return fin(bit(c.flags, Flags.IsInjecting))
    if (tok.startsWith("ismedia"))
      // negation ignored by the reference (gotOne path, Spider.cpp:12309)
      return Some(bit(c.flags, Flags.HasMediaExtension))
    if (tok.startsWith("isnewoutlink")) return fin(bit(c.flags, Flags.IsNewOutlink))
    if (tok.startsWith("isnewrequest"))
      return fin(when(!c.repExists, lit(true)).otherwise(c.addedTime > c.repSpideredTime))
    if (tok.startsWith("isnew")) return fin(!hadReply)
    if (tok.startsWith("iswww")) {
      // Spider.cpp:12554-12582 char scan: "www" after "xxxx://" or
      // "xxxxx://", else at the start
      val from = when(substring(c.url, 5, 1) === ":", lit(8))
        .when(substring(c.url, 6, 1) === ":", lit(9)).otherwise(lit(1))
      return fin(c.url.substr(from, lit(3)) === "www")
    }
    if (tok.startsWith("isrssext")) return fin(bit(c.flags, Flags.IsRSSExt))
    if (tok.startsWith("ispermalinkformat")) return fin(bit(c.flags, Flags.IsUrlPermalinkFormat))
    if (tok.startsWith("isparentindexed")) return fin(bit(c.flags, Flags.WasParentIndexed))
    if (tok.startsWith("isparentrss")) return fin(bit(c.flags, Flags.ParentIsRSS))
    if (tok.startsWith("isparentsitemap")) return fin(bit(c.flags, Flags.ParentIsSiteMap))
    if (tok.startsWith("isparentpingserver")) return fin(bit(c.flags, Flags.ParentIsPingServer))
    if (tok.startsWith("ispingserver")) return fin(bit(c.flags, Flags.IsPingServer))
    if (tok.startsWith("isfakeip")) return fin(bit(c.flags, Flags.FakeFirstIp))
    if (tok.startsWith("hastmperror")) {
      // the rep_exists guard stays OUTSIDE the negation: with no reply
      // the interpreter returns RowSkip (row fails) regardless of '!'
      // (UrlFilters.evalToken hastmperror → RowSkip on None)
      val pred = c.repErrCode.isInCollection(UrlFilters.tmpErrors)
      return Some(c.repExists && (if (neg) !pred else pred))
    }
    if (tok.startsWith("hasreply")) return fin(hadReply)
    if (tok == "default") return Some(lit(true))

    // numeric comparisons
    val (name, sign, value) = UrlFilters.parseCmp(tok)
    if (sign != 0) {
      import UrlFilters.{EQ, GE, GT, LE, LT, NE}
      def cmp(a: Column, b: Long): Column = sign match {
        case EQ => a === b
        case NE => a =!= b
        case GT => a > b
        case LT => a < b
        case GE => a >= b
        case LE => a <= b
      }
      val v = try value.toDouble.toLong catch { case _: NumberFormatException => return None }
      name match {
        case "hopcount" => return Some(cmp(c.hopCount, v)) // no '!' form in C
        case "errorcount" => return Some(c.repExists && cmp(c.repErrCount, v))
        case "errorcode" => return Some(c.repExists && cmp(c.repErrCode, v))
        case "numinlinks" => return Some(cmp(c.pageNumInlinks, v))
        case "sitenuminlinks" => return Some(c.siteNumInlinks =!= -1 && cmp(c.siteNumInlinks, v))
        case "lastspidertime" => return Some(c.repExists && cmp(c.repSpideredTime, v))
        case "spiderwaited" => return Some(c.repExists && cmp(lit(c.now) - c.repSpideredTime, v))
        case "httpstatus" => return Some(c.repExists && cmp(c.repHttpStatus, v))
        case "urlage" =>
          val age = when(c.discoveryTime =!= 0, lit(c.now) - c.discoveryTime).otherwise(lit(c.now) - c.addedTime)
          return Some(cmp(age, v))
        case _ => // fall through to patterns
      }
    }

    // pattern predicates
    if (tok.startsWith("^")) {
      val pat = tok.substring(1).takeWhile(ch => !ch.isWhitespace)
      if (pat.isEmpty) return Some(lit(false))
      return fin(c.url.startsWith(pat))
    }
    if (tok.startsWith("$")) {
      var pat = tok.substring(1)
      if (pat.startsWith("\\.")) pat = pat.substring(1)
      pat = pat.takeWhile(ch => !ch.isWhitespace)
      if (pat.isEmpty) return Some(lit(false))
      return fin(c.url.endsWith(pat))
    }
    if (tok.nonEmpty && tok.head.isLetter && !tok.contains("==") && !tok.contains("<") &&
        !tok.contains(">") && !tok.contains("!=") && !Seq("is", "has", "in", "tag:", "matches").exists(tok.startsWith)) {
      // bare substring; an is*/has*/in*/tag:/matches* token the chain
      // above does not know is the interpreter's to evaluate
      val pat = tok.takeWhile(ch => !ch.isWhitespace)
      return fin(c.url.contains(pat))
    }
    None
  }

  /** Compile the whole table into the `ufn` chain: the index of the
    * first matching rule, −1 if none matches. A rule whose token aborts
    * the run gives −1 once the tokens before that one hold. */
  def compile(rules: IndexedSeq[UrlFilterRule], c: Cols, ctx: RuleCtx, sl: SiteList): Column = {
    val branches = rules.indices.map { i =>
      val toks = tokens(rules(i))
      val abortAt = toks.indexWhere(aborts(_, ctx))
      val held = if (abortAt < 0) toks else toks.take(abortAt)
      // an expression of no tokens ("&&") never matches
      (held.map(compileToken(_, c, ctx, sl)).reduceOption(_ && _).getOrElse(lit(toks.nonEmpty)),
        if (abortAt < 0) i else -1)
    }
    // one CASE whose branches are tried in rule order: the FIRST match wins
    if (branches.isEmpty) lit(-1)
    else branches.tail.foldLeft(when(branches.head._1, lit(branches.head._2))) {
      case (chain, (cond, ufn)) => chain.when(cond, lit(ufn))
    }.otherwise(lit(-1))
  }

  /** The per-rule lookups over `ufn`, a reference to the column that
    * holds the chain's value: element `ufn + 2` (1-based) of a constant
    * array whose first element is the no-match value (ufn = −1). */
  def attrs(rules: IndexedSeq[UrlFilterRule], ufn: Column): Attrs = {
    def lookup(noMatch: Any)(f: UrlFilterRule => Any): Column =
      element_at(array((noMatch +: rules.map(f)).map(lit): _*), ufn + 2)
    Attrs(lookup(-1)(_.priority), lookup(true)(_.forceDelete), lookup(0)(_.ipMaxSpiders),
      lookup(0)(_.ipWaitMs), lookup(0.0)(_.spiderFreqDays))
  }

  /** getSpiderTimeMS as native columns (Spider.cpp:5966-6063). Each
    * term appears once: greatest() skips the reply term's null when
    * there is no reply or it has no spidered time. */
  def spiderTimeCol(c: Cols, a: Attrs,
                    lastDownloadMs: Column, domCrawlDelayMs: Column): Column = {
    val base = c.addedTime * 1000L
    val lastMs = greatest(lastDownloadMs, lit(0L))
    val min1 = lastMs + a.ipWaitMs
    val cd = least(domCrawlDelayMs, lit(UrlFilters.MaxCrawlDelayMs))
    val min2 = when(domCrawlDelayMs >= 0, lastMs + cd).otherwise(lit(0L))
    val waitMs = when(bit(c.flags, Flags.IsPageReindex), lit(0L))
      .otherwise((a.spiderFreqDays * 3600 * 24.0).cast("long") * 1000L)
    val min3 = when(c.repExists && c.repSpideredTime > 0, c.repSpideredTime * 1000L + waitMs)
    when(!c.repExists && (bit(c.flags, Flags.IsInjecting) || bit(c.flags, Flags.IsPageReindex)), base)
      .otherwise(greatest(base, min1, min2, min3))
  }
}
