package graft.core

/** robots.txt evaluator with the reference's NON-standard semantics
  * (`/root/reference/src/XmlDoc.cpp:14804-14968`, `isAllowed2`; line
  * tokenization per `/root/reference/src/Mime.cpp` `getLine`). Do not
  * replace with an RFC 9309 parser — differences that matter:
  *
  *  - `allow:` lines do NOT re-allow a disallowed path; they (like
  *    `sitemap:`) only mark the block as non-empty so a later
  *    `user-agent` line starts a new block (XmlDoc.cpp:14904-14913)
  *  - `disallow` is a case-insensitive SUBSTRING-strength prefix match on
  *    the path (+cgi), with leading-`/` normalization and trailing-space
  *    trim (XmlDoc.cpp:14925-14966)
  *  - user-agent matching: left-anchored substring match on the first
  *    pass with the real UA, exact match on the `*` fallback pass; the
  *    fallback runs when the UA was not found OR its block had no
  *    allow/disallow lines (XmlDoc.cpp:15245-15274)
  *  - `crawl-delay: .5` float seconds → ms, clamped to [0, 2^31)
  *    (XmlDoc.cpp:14884-14900); a UA-specific delay survives the `*` pass
  *  - `#` comments; a final line without a trailing newline is processed
  */
object Robots {

  final case class Verdict(allowed: Boolean, crawlDelayMs: Int,
                           uaFound: Boolean, hadAllowOrDisallow: Boolean)

  /** Default spider UA of the reference (g_conf.m_spiderUserAgent). */
  val DefaultUserAgent = "GigablastOpenSource"

  /** Two-pass evaluation as the reference's getIsAllowed does
    * (XmlDoc.cpp:15245-15274). Returns (allowed, crawlDelayMs, -1 none). */
  def evaluate(pathWithCgi: String, robotsTxt: Array[Byte],
               userAgent: String = DefaultUserAgent): (Boolean, Int) = {
    val first = isAllowed2(pathWithCgi, userAgent, robotsTxt, substringMatch = true, crawlDelayIn = -1)
    val savedCrawlDelay = first.crawlDelayMs
    var allowed = first.allowed
    var crawlDelay = first.crawlDelayMs
    if (!first.uaFound || !first.hadAllowOrDisallow) {
      val second = isAllowed2(pathWithCgi, "*", robotsTxt, substringMatch = false, crawlDelayIn = crawlDelay)
      allowed = second.allowed
      crawlDelay = second.crawlDelayMs
    }
    if (savedCrawlDelay != -1) crawlDelay = savedCrawlDelay
    (allowed, crawlDelay)
  }

  /** Core matcher (XmlDoc.cpp:14804-14968). */
  def isAllowed2(pathWithCgi: String, userAgent: String, file: Array[Byte],
                 substringMatch: Boolean, crawlDelayIn: Int = -1): Verdict = {
    var crawlDelay = crawlDelayIn
    var uaFound = false
    var hadAllowOrDisallow = false
    if (file.length == 0) return Verdict(allowed = true, crawlDelay, uaFound, hadAllowOrDisallow)
    val path = if (pathWithCgi.isEmpty) "/" else pathWithCgi
    val uaLen = userAgent.length
    var allowed = true

    // ---- Mime::getLine port. Returns true if a line was produced.
    var pos = 0
    var more = true // C: p != NULL
    var fOff = 0; var fLen = 0; var vOff = 0; var vLen = 0
    def getLine(): Boolean = {
      fLen = 0; vLen = 0
      if (!more) return false
      var p = pos
      val pend = file.length
      var haveLine = false
      while (!haveLine) {
        // skip to next field (break on comment)
        while (p < pend && file(p) != '#' && !isAlnumByte(file(p))) p += 1
        if (p >= pend) { more = false; pos = p; return false }
        if (file(p) == '#') {
          while (p < pend && file(p) != '\n' && file(p) != '\r') p += 1
          if (p >= pend) { more = false; pos = p; return false }
        } else {
          val s = p
          while (p < pend && file(p) != ':' && file(p) != '\n' && file(p) != '\r') p += 1
          if (p >= pend) { more = false; pos = p; return false }
          if (file(p) != ':') {
            // no colon on this line; try next
          } else {
            fOff = s; fLen = p - s
            p += 1
            while (p < pend && (file(p) == ' ' || file(p) == '\t')) p += 1
            if (p >= pend) { more = false; pos = p; return true } // field, empty value
            vOff = p
            while (p < pend && file(p) != '\n' && file(p) != '\r') p += 1
            vLen = p - vOff
            if (p >= pend) { more = false; pos = p; return true } // last line, processed
            haveLine = true
          }
        }
      }
      pos = p
      true
    }
    @inline def fEq(s: String): Boolean =
      fLen == s.length && equalsIgnoreCaseAscii(file, fOff, s)

    // ---- state machine
    var state = 0 // 0 = looking for our user-agent, 1 = in our block
    var flag = false
    var reprocessAgent = false
    while (true) {
      if (state == 0) {
        if (!reprocessAgent) {
          if (!getLine()) return Verdict(allowed, crawlDelay, uaFound, hadAllowOrDisallow)
          if (!fEq("user-agent")) { /* stay in state 0 */ }
          else reprocessAgent = true
        }
        if (reprocessAgent) {
          reprocessAgent = false
          // trim trailing comment + spaces from the UA value
          var vl = vLen
          var vv = 0
          while (vv < vl && file(vOff + vv) != '#') vv += 1
          vl = vv
          while (vl > 0 && isWspaceByte(file(vOff + vl - 1))) vl -= 1
          var matches = true
          if (!substringMatch && vl != uaLen) matches = false
          else {
            val cmpLen = math.min(uaLen, vl)
            matches = regionEqualsIgnoreCase(file, vOff, userAgent, cmpLen)
          }
          if (matches) {
            uaFound = true
            flag = false
            state = 1
          }
        }
      } else {
        if (!getLine()) return Verdict(allowed, crawlDelay, uaFound, hadAllowOrDisallow)
        if (flag && fEq("user-agent")) {
          state = 0
          reprocessAgent = true
        } else if (fEq("crawl-delay")) {
          flag = true
          if (vLen > 0 && { val c = file(vOff); (c >= '0' && c <= '9') || c == '.' }) {
            val str = new String(file, vOff, vLen, java.nio.charset.StandardCharsets.ISO_8859_1)
            val secs = try str.trim.takeWhile(c => c.isDigit || c == '.').toDouble catch { case _: NumberFormatException => -1.0 }
            if (secs >= 0) {
              val ms = (secs * 1000L).toLong
              crawlDelay = if (ms > 0x7fffffffL) 0x7fffffff else if (ms < 0) -1 else ms.toInt
            }
          }
        } else if (allowed) {
          if (fEq("allow")) { hadAllowOrDisallow = true; flag = true }
          else if (fEq("sitemap")) { flag = true }
          else if (fEq("disallow")) {
            hadAllowOrDisallow = true
            flag = true
            // trim value at first whitespace
            var vl = 0
            while (vl < vLen && !isWspaceByte(file(vOff + vl))) vl += 1
            // leading-/ normalization
            var tp = 0
            var tpLen = path.length
            if (vl > 0 && file(vOff) != '/') { tp = 1; tpLen -= 1 }
            if (vl <= tpLen &&
                regionEqualsIgnoreCase(file, vOff, path.substring(tp), vl)) {
              if (vl == tpLen) allowed = false // exact
              else if (vl > 0) allowed = false // substring-strength prefix
            }
          }
        }
        // when already disallowed, allow/sitemap/disallow lines are skipped
        // entirely (XmlDoc.cpp:14901: `if (!allowed) goto urlLoop;`)
      }
    }
    Verdict(allowed, crawlDelay, uaFound, hadAllowOrDisallow)
  }

  @inline private def isAlnumByte(b: Byte): Boolean = {
    val c = b & 0xff
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= 192 && c != 215 && c != 247)
  }
  @inline private def isWspaceByte(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == 0x0b || b == '\f'

  private def equalsIgnoreCaseAscii(buf: Array[Byte], off: Int, s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val a = lower(buf(off + i).toChar)
      if (a != lower(s.charAt(i))) return false
      i += 1
    }
    true
  }
  private def regionEqualsIgnoreCase(buf: Array[Byte], off: Int, s: String, len: Int): Boolean = {
    if (s.length < len) return false
    var i = 0
    while (i < len) {
      if (lower(buf(off + i).toChar) != lower(s.charAt(i))) return false
      i += 1
    }
    true
  }
  @inline private def lower(c: Char): Char = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
}
