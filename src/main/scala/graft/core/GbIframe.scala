package graft.core

/** X7 completion: frame/iframe expansion
  * (`XmlDoc::getExpandedUtf8Content`, XmlDoc.cpp:19481-19768) — the
  * chain step between getRawUtf8Content (charset→UTF-8) and the
  * sanitize/decode pipeline. The reference downloads each frame doc and
  * splices its raw UTF-8 content into the parent right after the
  * frame/iframe open tag, wrapped in `<gbframe>` (plus `<script>` when
  * the child is javascript), capping at 5 expansions.
  *
  * In the Spark engine the "download" is a join against the pages
  * table: [[candidates]] runs the reference's scan to list candidate
  * frame urls, the crawl joins those against pages+robots, and
  * [[expand]], in the crawl's per-page map, re-runs the scan splicing
  * in the fetched contents.
  * Quirks preserved:
  *  - the tag match is a PREFIX check, so `<frameset` matches "frame"
  *    (XmlDoc.cpp:19597-19609)
  *  - candidates inside `<script>` sections are skipped (:19584-19595,
  *    the document.write('<iframe...') case)
  *  - empty src, `about:blank`, self-recursion, non-http(s), and urls
  *    containing "google.com/" or "bing.com/" are skipped
  *    (:19620-19646)
  *  - `src` extraction is `getFieldValue` (Words.cpp:1282-1355): 2000
  *    byte scan cap, quote handling, name preceded by non-alnum
  *  - the frame's own content stays in place; the child content is
  *    INSERTED after the open tag's `>` (:19712-19737)
  */
object GbIframe {

  final case class FrameContent(url: String, content: Array[Byte], isJs: Boolean)

  @inline private def lc(b: Byte): Int = {
    val c = b & 0xff
    if (c >= 'A' && c <= 'Z') c + 32 else c
  }

  @inline private def isWspace(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == 0x0b || c == 0x0c

  @inline private def isAlnumA(c: Int): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def matches(s: Array[Byte], p: Int, word: String): Boolean = {
    if (p + word.length > s.length) return false
    var i = 0
    while (i < word.length) {
      if (lc(s(p + i)) != word.charAt(i)) return false
      i += 1
    }
    true
  }

  /** Cheap prefilter: does the byte buffer contain `<frame`/`<iframe`
    * at all (case-insensitive)? False positives fine — the full scan
    * re-checks script sections etc. */
  def mayHaveFrames(s: Array[Byte]): Boolean = {
    var p = 0
    val n = s.length
    while (p < n) {
      if (s(p) == '<' && (matches(s, p + 1, "frame") || matches(s, p + 1, "iframe")))
        return true
      p += 1
    }
    false
  }

  /** getFieldValue (Words.cpp:1282-1355) over the tag starting at s(off)
    * — returns the attribute value or null. */
  private[core] def fieldValue(s: Array[Byte], off: Int, len0: Int, field: String): String = {
    val slen = math.min(len0, 2000) // Words.cpp:1294
    val flen = field.length
    var inQuotes = 0
    var i = 1
    var found = false
    while (i + flen < slen && !found) {
      val c = s(off + i) & 0xff
      if (inQuotes != 0) {
        if (c == inQuotes) inQuotes = 0
        i += 1
      } else if (c == '"' || c == '\'') { inQuotes = c; i += 1 }
      else if (c == '>') return null
      else if (isAlnumA(s(off + i - 1) & 0xff)) i += 1
      else if (lc(s(off + i)) != field.charAt(0)) i += 1
      else if ((s(off + i + flen) & 0xff) != '=' && !isWspace(s(off + i + flen) & 0xff)) i += 1
      else if (!matches(s, off + i, field)) i += 1
      else found = true
    }
    if (!found) return null
    i += flen
    while (i < slen && isWspace(s(off + i) & 0xff)) i += 1
    if (i >= slen || (s(off + i) & 0xff) != '=') return null
    i += 1
    while (i < slen && isWspace(s(off + i) & 0xff)) i += 1
    if (i >= slen) return ""
    var q = 0
    if ((s(off + i) & 0xff) == '"' || (s(off + i) & 0xff) == '\'') { q = s(off + i) & 0xff; i += 1 }
    val start = i
    if (q != 0) while (i < slen && (s(off + i) & 0xff) != q) i += 1
    else while (i < slen && !isWspace(s(off + i) & 0xff) && (s(off + i) & 0xff) != '>') i += 1
    new String(s, off + start, i - start, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** One candidate frame tag: byte offset past the tag's `>` (the
    * splice point) and the RESOLVED absolute url. */
  final case class Candidate(spliceAt: Int, url: String)

  /** The expansion scan (XmlDoc.cpp:19570-19661): candidate frame urls
    * in document order, with all the reference's skip rules applied.
    * `baseUrl` is the CURRENT url (redirect target). */
  def candidates(s: Array[Byte], baseUrl: GbUrl): Seq[Candidate] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Candidate]
    val n = s.length
    var inScript = false
    var p = 0
    while (p < n) {
      if (s(p) == '<') {
        if (matches(s, p + 1, "script")) inScript = true
        if (p + 1 < n && (s(p + 1) & 0xff) == '/' && matches(s, p + 2, "script")) inScript = false
        if (!inScript && (matches(s, p + 1, "frame") || matches(s, p + 1, "iframe"))) {
          val url = fieldValue(s, p, n - p, "src")
          if (url != null && url.nonEmpty && url != "about:blank") {
            val furl = GbUrl.parseRel(baseUrl, url)
            val abs = furl.url
            // no recursion; http(s) only; search-engine skip list
            if (furl.isValid && abs != baseUrl.url &&
                (abs.startsWith("http://") || abs.startsWith("https://")) &&
                !abs.contains("google.com/") && !abs.contains("bing.com/")) {
              // find the end of the frame tag (:19712-19720)
              var fend = p
              while (fend < n && s(fend) != '>') fend += 1
              if (fend < n) out += Candidate(fend + 1, abs)
            }
          }
        }
      }
      p += 1
    }
    out.toSeq
  }

  /** Splice fetched frame contents into the parent (the m_esbuf build,
    * XmlDoc.cpp:19722-19768): content up to the open tag's `>`, then
    * `<gbframe>` + child rawUtf8 (+`<script>` wrap when js) +
    * `</gbframe>`; at most 5 expansions. Candidates without fetched
    * content (404 / robots-denied frames) are skipped like the
    * reference's nukeDoc-continue. */
  def expand(s: Array[Byte], baseUrl: GbUrl, fetched: Map[String, FrameContent]): Array[Byte] = {
    val cands = candidates(s, baseUrl)
    if (cands.isEmpty) return s
    val bos = new java.io.ByteArrayOutputStream(s.length + 4096)
    var oldp = 0
    var expansions = 0
    var ci = 0
    while (ci < cands.length && expansions < 5) {
      val c = cands(ci)
      fetched.get(c.url).filter(_.content != null).filter(_.content.nonEmpty).foreach { fc =>
        bos.write(s, oldp, c.spliceAt - oldp)
        bos.write("<gbframe>".getBytes)
        if (fc.isJs) bos.write("<script>".getBytes)
        bos.write(fc.content)
        if (fc.isJs) bos.write("</script>".getBytes)
        bos.write("</gbframe>".getBytes)
        oldp = c.spliceAt
        expansions += 1
      }
      ci += 1
    }
    if (expansions == 0) return s
    bos.write(s, oldp, s.length - oldp)
    bos.toByteArray
  }
}
