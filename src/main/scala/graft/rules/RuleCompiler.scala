package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.frontier.Flags

/** Compiles a URL-filter rule table into native Catalyst Column
  * expressions so the scheduler's scoring runs inside whole-stage codegen
  * with zero per-row object allocation (SURVEY §2.2 F1: "a compiled
  * when/otherwise Column chain"). The chain (`compile`) yields a row's
  * `ufn`, the first matching rule; the caller projects it once as a
  * column, and the per-rule lookups (`attrs`, `spiderTimeCol`) read that
  * column, so the table is evaluated once per row. Semantics are
  * cross-validated against the reference-exact interpreter
  * (`UrlFilters.urlFilterNum`) by property tests.
  *
  * Input columns (the scheduler's joined row):
  *  - request: url, hop_count, flags, added_time, discovery_time,
  *    site_num_inlinks, err_count, page_num_inlinks (0 today)
  *  - reply (nullable): rep_exists, rep_spidered_time, rep_err_code,
  *    rep_err_count, rep_http_status
  *  - politeness: last_download_end_ms (−1 none), dom_crawl_delay_ms (−1)
  *
  * `compile` returns None if any rule uses a token this compiler does
  * not support (caller falls back to the interpreter). */
object RuleCompiler {

  final case class Cols(
      url: Column, hopCount: Column, flags: Column,
      addedTime: Column, discoveryTime: Column,
      siteNumInlinks: Column, pageNumInlinks: Column,
      repExists: Column, repSpideredTime: Column, repErrCode: Column,
      repErrCount: Column, repHttpStatus: Column,
      now: Column)

  /** A rule's scheduling attributes, looked up by a row's `ufn`. */
  final case class Attrs(priority: Column, forceDelete: Column, ipMaxSpiders: Column,
                         ipWaitMs: Column, spiderFreqDays: Column)

  @inline private def bit(flags: Column, b: Long): Column = (flags.bitwiseAND(lit(b)) =!= lit(0L))

  /** One token → Some(predicate Column), or None if unsupported. */
  private def compileToken(tokIn: String, c: Cols, siteListEmpty: Boolean,
                           patterns: CrawlPatterns): Option[Column] = {
    var tok = tokIn
    var neg = false
    if (tok.startsWith("!") && !tok.startsWith("!=")) { neg = true; tok = tok.substring(1).trim }
    def fin(col: Column): Option[Column] = Some(if (neg) !col else col)

    val hadReply = bit(c.flags, Flags.HadReply) || c.repExists

    if (tok.startsWith("isreindex")) return fin(bit(c.flags, Flags.IsPageReindex))
    if (tok.startsWith("ismanualadd"))
      return fin(bit(c.flags, Flags.IsAddUrl) || bit(c.flags, Flags.IsInjecting) || bit(c.flags, Flags.IsPageReindex))
    if (tok.startsWith("insitelist")) {
      // non-empty site list → interpreter fallback (pattern matching)
      if (!siteListEmpty) return None
      return fin(lit(true))
    }
    if (tok.startsWith("matchesucp")) {
      if (patterns.ucpConfigured) return None // interpreter fallback
      return Some(lit(true)) // unconfigured → always passes, '!' ignored
    }
    if (tok.startsWith("matchesupp")) {
      if (patterns.uppConfigured) return None
      return Some(lit(true))
    }
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
        case "spiderwaited" => return Some(c.repExists && cmp(c.now - c.repSpideredTime, v))
        case "httpstatus" => return Some(c.repExists && cmp(c.repHttpStatus, v))
        case "urlage" =>
          val age = when(c.discoveryTime =!= 0, c.now - c.discoveryTime).otherwise(c.now - c.addedTime)
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
        !tok.contains(">") && !tok.contains("!=")) {
      // bare substring; only safe when it's not an unrecognized is*/has* token
      if (tok.startsWith("is") || tok.startsWith("has") || tok.startsWith("in") ||
          tok.startsWith("tag:") || tok.startsWith("lang") || tok.startsWith("tld") ||
          tok.startsWith("parentlang") || tok.startsWith("matches")) return None
      val pat = tok.takeWhile(ch => !ch.isWhitespace)
      return fin(c.url.contains(pat))
    }
    None
  }

  /** Compile the whole table into the `ufn` chain: the index of the
    * first matching rule, −1 if none matches. None if any token is
    * unsupported. */
  def compile(rules: IndexedSeq[UrlFilterRule], c: Cols, siteListEmpty: Boolean = true,
              patterns: CrawlPatterns = CrawlPatterns()): Option[Column] = {
    val ruleCols: Seq[Column] = rules.map { r =>
      val toks = r.expr.split("&&").map(_.trim)
      val parts = toks.map(t => compileToken(t, c, siteListEmpty, patterns))
      if (parts.exists(_.isEmpty)) return None
      parts.flatten.reduce(_ && _)
    }
    // one CASE whose branches are tried in rule order: the FIRST match wins
    if (ruleCols.isEmpty) Some(lit(-1))
    else Some(ruleCols.indices.tail.foldLeft(when(ruleCols.head, lit(0))) { (chain, i) =>
      chain.when(ruleCols(i), lit(i))
    }.otherwise(lit(-1)))
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
