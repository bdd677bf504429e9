package graft.rules

/** The URL-filter rule engine — the crawl-ordering brain.
  *
  * Semantics from the reference (public source):
  *  - first-match rule table, each row a `&&`-conjunction of predicates with
  *    optional `!` (`/root/reference/src/Spider.cpp:11604-13538`,
  *    `getUrlFilterNum2`); a predicate that cannot be evaluated (e.g. a
  *    reply-based token with no reply) skips the ROW, not just the token
  *  - default "web" profile table, 24 rows with exact constants
  *    (`/root/reference/src/Collectiondb.cpp:2196-2629`, `rebuildUrlFilters2`)
  *  - pattern predicates: `^prefix` (Spider.cpp:13399), `$suffix` with the
  *    `$\.css` backslash hack (13432), bare-token substring (13475),
  *    `default` always matches (12584)
  *  - numeric comparators `== != < <= > >=` parsed generically
  *    (Spider.cpp:12623-12655)
  *  - `getSpiderTimeMS` next-eligible-time (Spider.cpp:5966-6063)
  *
  * The evaluator is a pure function so it can run inside `mapPartitions` /
  * typed UDFs at full codegen speed and be cross-validated in unit tests.
  */
final case class UrlFilterRule(
    expr: String,
    harvestLinks: Boolean,
    spiderFreqDays: Double,
    maxSpidersPerRule: Int,
    ipMaxSpiders: Int,
    ipWaitMs: Int,
    priority: Int,
    forceDelete: Boolean = false
)

/** Request-side evaluation context (subset of SpiderRequest,
  * Spider.h:468-912). */
final case class UfnRequest(
    url: String,
    hopCount: Int,
    hopCountValid: Boolean = true,
    addedTime: Long = 0L, // secs
    discoveryTime: Long = 0L, // secs
    pageNumInlinks: Int = 0,
    siteNumInlinks: Int = -1,
    parentLang: String = "",
    hostHash32: Int = 0,
    domHash32: Int = 0,
    parentHostHash32: Int = 0,
    parentDomHash32: Int = 0,
    errCount: Int = 0,
    // flags (Spider.h:599-705)
    isAddUrl: Boolean = false,
    isInjecting: Boolean = false,
    isPageReindex: Boolean = false,
    isPageParser: Boolean = false,
    isNewOutlink: Boolean = false,
    isRSSExt: Boolean = false,
    isUrlPermalinkFormat: Boolean = false,
    parentIsRSS: Boolean = false,
    parentIsSiteMap: Boolean = false,
    parentIsPingServer: Boolean = false,
    isPingServer: Boolean = false,
    hasMediaExtension: Boolean = false,
    fakeFirstIp: Boolean = false,
    hadReply: Boolean = false,
    wasParentIndexed: Boolean = false,
    // A6 quota-table lookups, resolved by joins before evaluation (the
    // reference's quotaTable->getValue on siteHash32 / domHash32 and
    // their ^0x123456 seed-count aliases, Spider.cpp:12659-12800;
    // missing key → 0, ":12677 if no count in table ... a=0"). Only
    // read when RuleCtx.quotaValid.
    siteHash32: Int = 0,
    sitePages: Int = 0,
    domainPages: Int = 0,
    siteAdds: Int = 0,
    domainAdds: Int = 0
)

/** Collection-level evaluation context: site list + crawl/process
  * patterns (the reference reads these from SpiderColl/CollectionRec).
  * `quotaValid` models the reference's `quotaTable` pointer being
  * non-NULL (Spider.cpp:12668,12750,12792): the page/seed quota counts
  * (A6) were computed for this scan. */
final case class RuleCtx(
    siteListEmpty: Boolean = true,
    siteListMatch: String => Boolean = _ => false,
    siteTagMatch: (String, String) => Boolean = (_, _) => false,
    patterns: CrawlPatterns = CrawlPatterns(),
    quotaValid: Boolean = false)

/** Reply-side context (subset of SpiderReply, Spider.h:926-1103). */
final case class UfnReply(
    spideredTime: Long, // secs
    errCode: Int = 0,
    errCount: Int = 0,
    httpStatus: Int = 200,
    lang: String = "en",
    siteNumInlinks: Int = -1,
    percentChangedPerDay: Float = 0f,
    isRSS: Boolean = false,
    isPermalink: Boolean = false,
    isIndexed: Boolean = false,
    isIndexedValid: Boolean = true
)

object UrlFilters {

  /** Error codes that count as "temporary" (Spider.cpp:11878-11932).
    * Values probed from the reference's GbErrno.h enum by compiling it
    * (refharness toolchain) — the round-1 hand-computed offsets were
    * wrong. Diffbot-specific codes omitted (no diffbot subsystem). */
  val EDNSTIMEDOUT = 32858
  val ETCPTIMEDOUT = 32846
  val EDNSDEAD = 32857
  val EBADIP = 32853
  val ENOMEM = 12 // errno
  val ENETUNREACH = 101
  val EHOSTUNREACH = 113
  val tmpErrors: Set[Int] =
    Set(EDNSTIMEDOUT, ETCPTIMEDOUT, EDNSDEAD, EBADIP, ENOMEM, ENETUNREACH, EHOSTUNREACH)

  /** The default "web" profile, row for row
    * (Collectiondb.cpp:2305-2611, ipms=7). */
  val defaultWebRules: Vector[UrlFilterRule] = Vector(
    UrlFilterRule("isreindex", harvestLinks = true, 0, 99, 1, 1000, 80),
    UrlFilterRule("ismedia", harvestLinks = true, 0, 99, 1, 1000, 100, forceDelete = true),
    UrlFilterRule("!ismanualadd && !insitelist", harvestLinks = true, 0, 99, 1, 1000, 100, forceDelete = true),
    UrlFilterRule("errorcount>=3 && hastmperror", harvestLinks = true, 1, 1, 1, 1000, 100, forceDelete = true),
    UrlFilterRule("errorcount>=1 && hastmperror", harvestLinks = true, 1, 1, 1, 1000, 45),
    UrlFilterRule("errorcount>=1", harvestLinks = true, 5, 1, 1, 1000, 2, forceDelete = true),
    UrlFilterRule("isaddurl", harvestLinks = true, 7, 99, 7, 1000, 85),
    UrlFilterRule("numinlinks>7 && isnew", harvestLinks = true, 7, 9, 7, 1000, 52),
    UrlFilterRule("numinlinks>7", harvestLinks = true, 7, 9, 7, 1000, 51),
    UrlFilterRule("hopcount==0 && iswww && isnew", harvestLinks = true, 7, 9, 7, 1000, 50),
    UrlFilterRule("hopcount==0 && iswww", harvestLinks = true, 7, 9, 7, 1000, 48),
    UrlFilterRule("hopcount==0 && isnew", harvestLinks = true, 7, 9, 7, 1000, 49),
    UrlFilterRule("hopcount==0", harvestLinks = true, 10, 9, 7, 1000, 47),
    UrlFilterRule("isparentrss && isnew", harvestLinks = true, 7, 9, 7, 1000, 45),
    UrlFilterRule("isparentsitemap && isnew", harvestLinks = true, 7, 9, 7, 1000, 44),
    UrlFilterRule("isparentrss", harvestLinks = true, 20, 9, 7, 1000, 43),
    UrlFilterRule("isparentsitemap", harvestLinks = true, 20, 9, 7, 1000, 42),
    UrlFilterRule("hopcount==1 && isnew", harvestLinks = true, 20, 9, 7, 1000, 40),
    UrlFilterRule("hopcount==1", harvestLinks = true, 20, 9, 7, 1000, 39),
    UrlFilterRule("hopcount==2 && isnew", harvestLinks = true, 40, 9, 7, 1000, 30),
    UrlFilterRule("hopcount==2", harvestLinks = true, 40, 9, 7, 1000, 29),
    UrlFilterRule("hopcount>=3 && isnew", harvestLinks = true, 60, 9, 7, 1000, 20),
    UrlFilterRule("hopcount>=3", harvestLinks = true, 60, 9, 7, 1000, 19),
    UrlFilterRule("default", harvestLinks = true, 60, 9, 7, 1000, 1)
  )

  // comparison signs
  private[rules] final val EQ = 1; private[rules] final val NE = 2; private[rules] final val GT = 3
  private[rules] final val LT = 4; private[rules] final val GE = 5; private[rules] final val LE = 6

  private sealed trait Tok
  private case object RowSkip extends Tok // predicate unevaluable → skip row
  // `domainpages` with no quota table aborts the WHOLE filter run with
  // -1 (Spider.cpp:12797 `return -1;`) — unlike sitepages/siteadds/
  // domainadds, which merely `continue` to the next rule. Quirk ported.
  private case object Abort extends Tok
  private case class Bool(matched: Boolean) extends Tok

  /** First matching rule index, or -1 (Spider.cpp:11695-13536).
    * `siteListEmpty`: with an empty site list `insitelist` always matches
    * (Spider.cpp:12031-12038). */
  def urlFilterNum(req: UfnRequest, rep: Option[UfnReply], nowGlobal: Long,
                   rules: IndexedSeq[UrlFilterRule] = defaultWebRules,
                   siteListEmpty: Boolean = true,
                   siteListMatch: String => Boolean = _ => false): Int =
    urlFilterNumCtx(req, rep, nowGlobal, rules,
      RuleCtx(siteListEmpty = siteListEmpty, siteListMatch = siteListMatch))

  def urlFilterNumCtx(req: UfnRequest, rep: Option[UfnReply], nowGlobal: Long,
                      rules: IndexedSeq[UrlFilterRule],
                      ctx: RuleCtx): Int = {
    var i = 0
    while (i < rules.length) {
      ruleMatch3(rules(i).expr, req, rep, nowGlobal, ctx) match {
        case 1 => return i
        case 2 => return -1 // Abort (Spider.cpp:12797)
        case _ =>
      }
      i += 1
    }
    -1
  }

  def ruleMatches(expr: String, req: UfnRequest, rep: Option[UfnReply], nowGlobal: Long,
                  siteListEmpty: Boolean = true,
                  siteListMatch: String => Boolean = _ => false): Boolean =
    ruleMatchesCtx(expr, req, rep, nowGlobal,
      RuleCtx(siteListEmpty = siteListEmpty, siteListMatch = siteListMatch))

  def ruleMatchesCtx(expr: String, req: UfnRequest, rep: Option[UfnReply], nowGlobal: Long,
                     ctx: RuleCtx): Boolean =
    ruleMatch3(expr, req, rep, nowGlobal, ctx) == 1

  /** 0 = no match, 1 = match, 2 = abort the whole filter run (-1). */
  private def ruleMatch3(expr: String, req: UfnRequest, rep: Option[UfnReply], nowGlobal: Long,
                         ctx: RuleCtx): Int = {
    // split on && — the reference scans for the literal "&&"
    val parts = expr.split("&&")
    var k = 0
    while (k < parts.length) {
      evalToken(parts(k).trim, req, rep, nowGlobal, ctx) match {
        case RowSkip => return 0
        case Abort => return 2
        case Bool(false) => return 0
        case Bool(true) => // next token
      }
      k += 1
    }
    if (parts.nonEmpty) 1 else 0
  }

  // evaluate one token (with optional leading '!')
  private def evalToken(tokIn: String, req: UfnRequest, rep: Option[UfnReply], now: Long,
                        ctx: RuleCtx): Tok = {
    var tok = tokIn
    var neg = false
    if (tok.startsWith("!") && !tok.startsWith("!=")) { neg = true; tok = tok.substring(1).trim }
    @inline def b(v: Boolean): Tok = Bool(v != neg)

    val url = req.url

    // boolean tokens, longest-prefix order mirrors the C dispatch
    if (tok.startsWith("isreindex")) return b(req.isPageReindex)
    if (tok.startsWith("ismanualadd"))
      return b(req.isAddUrl || req.isInjecting || req.isPageReindex || req.isPageParser)
    if (tok.startsWith("insitelist")) {
      // empty site list → dummy match (Spider.cpp:12031-12038)
      val in = if (ctx.siteListEmpty) true else ctx.siteListMatch(url)
      return b(in)
    }
    if (tok.startsWith("tag:")) {
      // site-list pattern carrying this tag matches the url
      // (Spider.cpp:12590-12615; empty site list → no row)
      val tag = tok.substring(4).takeWhile(c => !c.isWhitespace)
      val in = !ctx.siteListEmpty && ctx.siteTagMatch(url, tag)
      return b(in)
    }
    if (tok.startsWith("matchesucp")) {
      // Spider.cpp:11714-11745: only binds when patterns are configured;
      // manual adds always pass; '!' not honored by the C dispatch
      if (!ctx.patterns.ucpConfigured) return Bool(true)
      return Bool(ctx.patterns.matchesUcp(url) ||
        req.isAddUrl || req.isPageReindex || req.isInjecting)
    }
    if (tok.startsWith("matchesupp")) {
      // Spider.cpp:11748-11777: no manual-add override here
      if (!ctx.patterns.uppConfigured) return Bool(true)
      return Bool(ctx.patterns.matchesUpp(url))
    }
    if (tok.startsWith("isparentindexed")) return b(req.wasParentIndexed)
    if (tok.startsWith("isaddurl")) return b(req.isAddUrl)
    if (tok.startsWith("isinjected")) return b(req.isInjecting)
    if (tok.startsWith("ismedia")) {
      // NOTE: the reference ignores '!' for ismedia (goto gotOne path,
      // Spider.cpp:12309-12425) — preserved
      return if (req.hasMediaExtension) Bool(true) else RowSkip
    }
    if (tok.startsWith("isnewoutlink")) return b(req.isNewOutlink)
    if (tok.startsWith("isnewrequest")) {
      // Spider.cpp:12511-12534
      rep match {
        case None => return b(true)
        case Some(r) => return b(req.addedTime > r.spideredTime)
      }
    }
    if (tok.startsWith("isnew")) return b(!req.hadReply)
    if (tok.startsWith("iswww")) {
      // char-scan version (Spider.cpp:12554-12582): skips scheme, then
      // merely requires the first three host chars to be "www"
      var u = 0
      if (url.length > 4 && url.charAt(4) == ':') u = 7
      else if (url.length > 5 && url.charAt(5) == ':') u = 8
      val www = url.length >= u + 3 && url.charAt(u) == 'w' && url.charAt(u + 1) == 'w' && url.charAt(u + 2) == 'w'
      return b(www)
    }
    if (tok.startsWith("isrssext")) return b(req.isRSSExt)
    if (tok.startsWith("isrss")) {
      rep match { case None => return RowSkip; case Some(r) => return b(r.isRSS) }
    }
    if (tok.startsWith("ispermalinkformat")) return b(req.isUrlPermalinkFormat)
    if (tok.startsWith("ispermalink")) {
      rep match { case None => return RowSkip; case Some(r) => return b(r.isPermalink) }
    }
    if (tok.startsWith("isparentrss")) return b(req.parentIsRSS)
    if (tok.startsWith("isparentsitemap")) return b(req.parentIsSiteMap)
    if (tok.startsWith("isparentpingserver")) return b(req.parentIsPingServer)
    if (tok.startsWith("ispingserver")) return b(req.isPingServer)
    if (tok.startsWith("isroot")) {
      // char-scan (Spider.cpp:12132-12162)
      if (req.isPageReindex) return RowSkip
      var u = 4
      if (u < url.length && url.charAt(u) == 's') u += 1
      u += 3
      while (u < url.length && url.charAt(u) != '/') u += 1
      var isRoot = true
      if (u < url.length && url.charAt(u) == '/' && u + 1 < url.length) isRoot = false
      return b(isRoot)
    }
    if (tok.startsWith("isindexed")) {
      // Spider.cpp:12184-12207: no reply allows "!isindexed"
      rep match {
        case Some(r) => if (!r.isIndexedValid) return RowSkip else return b(r.isIndexed)
        case None => if (!neg) return Bool(false) else return Bool(true)
      }
    }
    if (tok.startsWith("isonsamesubdomain")) return b(req.parentHostHash32 == req.hostHash32)
    if (tok.startsWith("isonsamedomain")) return b(req.parentDomHash32 == req.domHash32)
    if (tok.startsWith("isfakeip")) return b(req.fakeFirstIp)
    if (tok.startsWith("isdocidbased")) return b(req.isPageReindex)
    if (tok.startsWith("hastmperror")) {
      rep match {
        case None => return RowSkip
        case Some(r) =>
          val e = if (tmpErrors.contains(r.errCode)) r.errCode else 0
          return b(e != 0)
      }
    }
    if (tok.startsWith("hasreply")) return b(req.hadReply)
    if (tok == "default") return Bool(true) // '!' not honored for default (C: strcmp on p after '!' skip… still matches)

    // numeric / list comparisons: parse name, sign, value
    val (name, sign, value) = parseCmp(tok)
    if (sign != 0) {
      name match {
        case "hopcount" =>
          if (!req.hopCountValid) return RowSkip
          return Bool(cmp(req.hopCount, value.toDouble.toInt, sign))
        case "lastspidertime" =>
          rep match {
            case None => return RowSkip
            case Some(r) => return Bool(cmp(r.spideredTime.toInt, value.toDouble.toInt, sign))
          }
        case "urlage" =>
          val age = if (req.discoveryTime != 0) now - req.discoveryTime else now - req.addedTime
          return Bool(cmp(age.toInt, value.toDouble.toInt, sign))
        case "errorcount" =>
          rep match {
            case None => return RowSkip
            case Some(r) => return Bool(cmp(r.errCount, value.toDouble.toInt, sign))
          }
        case "errorcode" =>
          rep match {
            case None => return RowSkip
            case Some(r) => return Bool(cmp(r.errCode, value.toDouble.toInt, sign))
          }
        case "numinlinks" => return Bool(cmp(req.pageNumInlinks, value.toDouble.toInt, sign))
        // A6 quotas (Spider.cpp:12659-12800). No quota table → the rule
        // is skipped ("continue"), EXCEPT domainpages which aborts the
        // whole run with -1 — asymmetric in the reference, ported as-is.
        case "sitepages" =>
          if (!ctx.quotaValid) return RowSkip
          return Bool(cmp(req.sitePages, value.toDouble.toInt, sign))
        case "domainpages" =>
          if (!ctx.quotaValid) return Abort
          return Bool(cmp(req.domainPages, value.toDouble.toInt, sign))
        case "siteadds" =>
          if (!ctx.quotaValid) return RowSkip
          return Bool(cmp(req.siteAdds, value.toDouble.toInt, sign))
        case "domainadds" =>
          if (!ctx.quotaValid) return RowSkip
          return Bool(cmp(req.domainAdds, value.toDouble.toInt, sign))
        case "sitenuminlinks" =>
          // freshest of request/reply (Spider.cpp:13182-13218)
          val a1 = req.siteNumInlinks
          val a2 = rep.map(_.siteNumInlinks).getOrElse(-1)
          var a = if (a1 != -1) a1 else a2
          if (a1 != -1 && a2 != -1 && rep.exists(_.spideredTime > req.addedTime)) a = a2
          if (a == -1) return RowSkip
          return Bool(cmp(a, value.toDouble.toInt, sign))
        case "spiderwaited" =>
          rep match {
            case None => return RowSkip
            case Some(r) => return Bool(cmp((now - r.spideredTime).toInt, value.toDouble.toInt, sign))
          }
        case "percentchangedperday" =>
          rep match {
            case None => return RowSkip
            case Some(r) => return Bool(cmpF(r.percentChangedPerDay, value.toDouble.toFloat, sign))
          }
        case "httpstatus" =>
          rep match {
            case None => return RowSkip
            case Some(r) => return Bool(cmp(r.httpStatus, value.toDouble.toInt, sign))
          }
        case "age" =>
          rep match {
            case None => return RowSkip
            case Some(r) => return Bool(cmp((now - r.spideredTime).toInt, value.toDouble.toInt, sign))
          }
        case "tld" =>
          val u = graft.core.GbUrl.parse(url)
          return listCmp(u.tld, value, sign)
        case "lang" =>
          rep match {
            case None => return RowSkip
            case Some(r) => return listCmp(r.lang, value, sign)
          }
        case "parentlang" => return listCmp(req.parentLang, value, sign)
        case _ => // fall through to patterns
      }
    }

    // pattern predicates
    if (tok.startsWith("^")) {
      val pat = tok.substring(1).takeWhile(c => !c.isWhitespace)
      if (pat.isEmpty) return Bool(false)
      val m = url.length >= pat.length && url.startsWith(pat)
      return b(m)
    }
    if (tok.startsWith("$")) {
      var pat = tok.substring(1)
      if (pat.startsWith("\\.")) pat = pat.substring(1) // `$\.css` hack
      pat = pat.takeWhile(c => !c.isWhitespace)
      if (pat.isEmpty) return Bool(false)
      val m = url.length >= pat.length && url.endsWith(pat)
      return b(m)
    }
    // bare substring
    val pat = tok.takeWhile(c => !c.isWhitespace)
    if (pat.isEmpty) Bool(false)
    else b(url.contains(pat))
  }

  /** `name op value` parse (Spider.cpp:12623-12655). sign==0 → not a cmp. */
  private[rules] def parseCmp(tok: String): (String, Int, String) = {
    var i = 0
    while (i < tok.length && tok.charAt(i).isLetter) i += 1
    val name = tok.substring(0, i)
    while (i < tok.length && tok.charAt(i).isWhitespace) i += 1
    if (i >= tok.length) return (name, 0, "")
    var sign = 0
    tok.charAt(i) match {
      case '=' =>
        i += 1; if (i < tok.length && tok.charAt(i) == '=') i += 1; sign = EQ
      case '!' if i + 1 < tok.length && tok.charAt(i + 1) == '=' =>
        i += 2; sign = NE
      case '<' =>
        i += 1; if (i < tok.length && tok.charAt(i) == '=') { sign = LE; i += 1 } else sign = LT
      case '>' =>
        i += 1; if (i < tok.length && tok.charAt(i) == '=') { sign = GE; i += 1 } else sign = GT
      case _ => return (name, 0, "")
    }
    while (i < tok.length && tok.charAt(i).isWhitespace) i += 1
    (name, sign, tok.substring(i))
  }

  @inline private def cmp(a: Int, bV: Int, sign: Int): Boolean = sign match {
    case EQ => a == bV
    case NE => a != bV
    case GT => a > bV
    case LT => a < bV
    case GE => a >= bV
    case LE => a <= bV
    case _ => false
  }
  @inline private def cmpF(a: Float, bV: Float, sign: Int): Boolean = sign match {
    case EQ => a == bV
    case NE => a != bV
    case GT => a > bV
    case LT => a < bV
    case GE => a >= bV
    case LE => a <= bV
    case _ => false
  }

  /** comma-separated value list for tld/lang/parentlang
    * (Spider.cpp:12822-13006): `==` matches any, `!=` matches none. */
  private def listCmp(v: String, list: String, sign: Int): Tok = {
    val items = list.split(',').map(_.trim.takeWhile(c => !c.isWhitespace))
    val hit = items.exists(_.equalsIgnoreCase(v))
    sign match {
      case EQ => Bool(hit)
      case NE => Bool(!hit)
      case _ => Bool(false)
    }
  }

  // ---------------------------------------------------------- A1: timing

  /** Default crawl delay if robots.txt is silent: 250 ms
    * (XmlDoc.cpp:14990); cap 60 s (Spider.cpp:6008). */
  val DefaultCrawlDelayMs = 250
  val MaxCrawlDelayMs = 60000

  /** getSpiderTimeMS (Spider.cpp:5966-6063): next eligible fetch time. */
  def spiderTimeMs(req: UfnRequest, ufn: Int, rep: Option[UfnReply],
                   rules: IndexedSeq[UrlFilterRule],
                   lastDownloadMs: Long, // per-firstIp, -1 = none
                   domCrawlDelayMs: Int // per-domHash32, -1 = none
                  ): Long = {
    var t = req.addedTime * 1000L
    if (rep.isEmpty && req.isInjecting) return t
    if (rep.isEmpty && req.isPageReindex) return t
    val lastMs = if (lastDownloadMs < 0) 0L else lastDownloadMs
    val min1 = lastMs + rules(ufn).ipWaitMs
    var cd = domCrawlDelayMs
    if (cd > MaxCrawlDelayMs) cd = MaxCrawlDelayMs
    val min2 = if (cd >= 0) lastMs + cd else 0L
    if (t < min1) t = min1
    if (t < min2) t = min2
    rep match {
      case None => t
      case Some(r) =>
        if (r.spideredTime <= 0) return t
        var waitSecs = (rules(ufn).spiderFreqDays * 3600 * 24.0).toLong
        if (req.isPageReindex) waitSecs = 0
        val min3 = r.spideredTime * 1000L + waitSecs * 1000L
        if (t < min3) t = min3
        t
    }
  }
}
