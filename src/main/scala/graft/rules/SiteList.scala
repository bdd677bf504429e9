package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.GbUrl
import graft.functions.GraftFunctions

/** F6: the site-list engine — a from-scratch port of the reference's
  * site-list pattern matching (`/root/reference/src/PageBasic.cpp`:
  * updateSiteListBuf line grammar at :236-370, getMatchingUrlPattern
  * matching at :471-630) used by the `insitelist` and `tag:` url-filter
  * tokens (`Spider.cpp:12024-12056`).
  *
  * Line grammar (each line, after optional `tag:xxx ` prefix):
  *   `# comment` / blank          → ignored
  *   `seed:URL`                   → seed (still a filter pattern)
  *   `site:URL`                   → pattern only, not seeded
  *   `contains:SUBSTR`            → positive substring
  *   `-contains:SUBSTR`           → negative substring (veto)
  *   `http(s)://prefix...`        → exact url prefix match
  *   `domain.com` / `sub.dom.com` → domain / host match
  *   `domain.com/path/`           → host-or-domain match + path prefix
  *
  * Match order (getMatchingUrlPattern): negative substrings veto first;
  * then domain-keyed patterns (url-prefix, path-prefix, host/domain
  * hash); then positive substrings. */
final class SiteList(lines: Seq[String]) extends Serializable {

  final case class Pat(raw: String, tag: String, host: String, domain: String,
                       path: String, urlPrefix: String)

  private var negSubs = Vector.empty[String]
  private var posSubs = Vector.empty[String]
  private var pats = Vector.empty[Pat]
  private var nonEmpty = false

  for (line0 <- lines) {
    var s = line0.trim
    if (s.nonEmpty && !s.startsWith("#")) {
      var tag = ""
      var neg = false
      var isUrl = true
      var loop = true
      while (loop) {
        loop = false
        s = s.dropWhile(_ == ' ')
        if (s.startsWith("seed:")) { s = s.substring(5); loop = true }
        else if (s.startsWith("tag:")) {
          val e = s.indexWhere(c => c == ' ' || c == '\t')
          if (e > 4) { tag = s.substring(4, e); s = s.substring(e).trim; loop = true }
          else s = ""
        }
        else if (s.startsWith("-")) { neg = true; s = s.substring(1); loop = true }
        else if (s.startsWith("site:")) { s = s.substring(5); loop = true }
        else if (s.startsWith("contains:")) { s = s.substring(9); isUrl = false; loop = true }
      }
      if (s.nonEmpty) {
        nonEmpty = true
        if (!isUrl) {
          if (neg) negSubs :+= s else posSubs :+= s
        } else {
          val hasScheme = s.startsWith("http://") || s.startsWith("https://")
          val u = GbUrl.parse(s)
          if (u.isValid) {
            val path = if (u.pathLen > 1) u.path else ""
            pats :+= Pat(s, tag, u.host, u.domain,
              path, if (hasScheme) s else "")
          }
        }
      }
    }
  }

  def isEmpty: Boolean = !nonEmpty

  /** getMatchingUrlPattern != NULL, optionally requiring a tag. */
  def matchingPattern(u: GbUrl, tagArg: String = null): Boolean = {
    if (isEmpty) return false
    val url = u.url
    if (negSubs.exists(url.contains)) return false
    val host = u.host
    val dom = u.domain
    val path = u.path
    for (p <- pats if p.domain.equalsIgnoreCase(dom)) {
      var ok = true
      if (p.path.nonEmpty && !path.startsWith(p.path)) ok = false
      if (ok) {
        if (p.urlPrefix.nonEmpty) {
          if (url.startsWith(p.urlPrefix)) {
            if (tagArg == null || tagArg == p.tag) return true
          }
        } else if (p.host.equalsIgnoreCase(host) || p.host.equalsIgnoreCase(dom)) {
          if (tagArg == null || tagArg == p.tag) return true
        }
      }
    }
    if (tagArg == null && posSubs.exists(url.contains)) return true
    false
  }

  def contains(url: String): Boolean = matchingPattern(GbUrl.parse(url))

  /** [[matchingPattern]] with no tag as a native Column over `url`, a
    * canonical url (the frontier stores `GbUrl.url`): a negative
    * substring vetoes; then the patterns of the url's domain, looked up
    * in a constant map, match by url prefix, or by path prefix and host
    * or domain; then a positive substring matches. */
  def matchColumn(url: Column): Column = {
    def anyOf(subs: Seq[String]) = subs.map(url.contains(_)).reduceOption(_ || _).getOrElse(lit(false))
    val byDomain = pats.groupBy(_.domain.toLowerCase).map { case (d, ps) =>
      d -> ps.map(p => (p.host.toLowerCase, p.path, p.urlPrefix))
    }
    val dom = lower(GraftFunctions.urlDomain(url))
    val patterned = if (pats.isEmpty) lit(false) else
      coalesce(exists(element_at(typedLit(byDomain), dom), { p =>
        val (host, path, prefix) = (p.getField("_1"), p.getField("_2"), p.getField("_3"))
        (path === "" || GraftFunctions.urlPath(url).startsWith(path)) &&
          when(prefix =!= "", url.startsWith(prefix))
            .otherwise(lower(GraftFunctions.urlHost(url)) === host || dom === host)
      }), lit(false))
    !anyOf(negSubs) && (patterned || anyOf(posSubs))
  }
}

/** Collection-level crawl/process patterns for `matchesucp` /
  * `matchesupp` (Spider.cpp:11714-11777): `ucp`/`upp` are ||-separated
  * substring lists, `ucr`/`upr` regexes (regex wins when present).
  * Manual adds (addurl/inject/reindex) always pass `matchesucp`. */
final case class CrawlPatterns(
    ucp: Seq[String] = Nil,
    ucr: Option[java.util.regex.Pattern] = None,
    upp: Seq[String] = Nil,
    upr: Option[java.util.regex.Pattern] = None) {
  def ucpConfigured: Boolean = ucr.nonEmpty || ucp.nonEmpty
  def uppConfigured: Boolean = upr.nonEmpty || upp.nonEmpty
  def matchesUcp(url: String): Boolean =
    ucr.map(_.matcher(url).find()).getOrElse(ucp.exists(url.contains))
  def matchesUpp(url: String): Boolean =
    upr.map(_.matcher(url).find()).getOrElse(upp.exists(url.contains))
}
