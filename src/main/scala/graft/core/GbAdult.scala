package graft.core

/** X16: `Url::isSpam` (Url.cpp:1137) and its word test `isAdult`
  * (Lang.cpp:467) — the url porn/spam classifier. The reference
  * applies it at index time with EDOCURLSPAM (XmlDoc.cpp:4316-4323)
  * only when the `doUrlSpamCheck` collection param is on (default "0"
  * / OFF, Parms.cpp); the crawl runs with that default, so here it is
  * a classifier only (the `x16_classify` oracle).
  *
  * Ported exactly from the ACTIVE reference code paths:
  *  - `isAdult`: the substring word list with all its exception
  *    sublists (kink/kinko, sex/sext/middlesex/…, anal/analog/…,
  *    cum/circum/…, clit, fuck/fuckedcomp, boob/booboo, wank/swank,
  *    fick/fickle/traffick, eroti/sclero, babe/babel/toyland,
  *    gay/gaylord). NOTE the reference quirk kept intact: every
  *    exception is tested against the WHOLE input, not the matched
  *    region — "sext" ANYWHERE rescues a "sex" hit anywhere.
  *  - `isSpam(host)`: drop the ".tld"; edu/gov TLDs exempt; >30-char
  *    hostname with ≥4 hyphens → spam; else each [.-]-delimited
  *    segment that isAdult fires → spam.
  *
  * NOT ported: the dictionary-split rescue pass
  * (`Speller::canSplitWords`, Speller.cpp:1496) that clears a hit when
  * the segment parses into clean dictionary words (the montanalinux.org
  * case) — it requires the reference's shipped unified dictionary,
  * which is data, not code. With the param off by default the
  * divergence is: this port flags a (rare) hostname the reference
  * would rescue. Documented rather than faked. */
object GbAdult {

  private val plainWords = Array(
    "upskirt", "downblouse", "adult", "shemale", "spank", "dildo",
    "shaved", "bdsm", "voyeur", "fisting", "escorts", "vibrator",
    "rgasm", "orgy", "orgies", "orgasm", "masturbat", "stripper",
    "lolita", "softcore", "whore", "slut", "smut", "tits", "lesbian",
    "swinger", "housewife", "housewive", "nude", "bondage",
    "centerfold", "incest", "pedophil", "pedofil", "horny", "pussy",
    "pussies", "penis", "vagina", "phuck", "blowjob", "gangbang",
    "xxx", "porn", "felch", "cunt", "bestial", "tranny", "beastial",
    "crotch")

  private val sexExceptions = Array(
    "sext", "middlesex", "sussex", "essex", "deusex", "sexchange",
    "sexpress", "sexpert", "sexcel", "sexist", "sexile", "harassm",
    "sexperi", "transex", "sexual", "sexpo", "exoti", "sexclu")

  private val analExceptions = Array("analog", "analy", "canal", "kanal", "banal")

  private val cumExceptions = Array(
    "circum", "magn", "succu", "cumber", "docum", "cumul", "acumen",
    "cucum", "incum", "capsicum", "modicum", "locum", "scum", "accu")

  /** Lang.cpp:467 `isAdult` on an already-lowercased string. */
  def isAdult(s: String): Boolean = {
    var i = 0
    while (i < plainWords.length) {
      if (s.contains(plainWords(i))) return true
      i += 1
    }
    if (s.contains("kink")) return !s.contains("kinko")
    if (s.contains("sex")) return !sexExceptions.exists(s.contains)
    if (s.contains("anal")) return !analExceptions.exists(s.contains)
    if (s.contains("cum")) return !cumExceptions.exists(s.contains)
    if (s.contains("clit") && !s.contains("heraclitus")) return true
    if (s.contains("fuck") && !s.contains("fuckedcomp")) return true
    if (s.contains("boob") && !s.contains("booboo")) return true
    if (s.contains("wank") && !s.contains("swank")) return true
    if (s.contains("fick") && !s.contains("fickle") && !s.contains("traffick")) return true
    if (s.contains("eroti") && !s.contains("sclero")) return true
    if (s.contains("babe") && !s.contains("toyland") && !s.contains("babel")) return true
    if (s.contains("gay") && !s.contains("gaylord")) return true
    false
  }

  /** Url.cpp:1137 `Url::isSpam()` over a parsed url. */
  def isSpam(u: GbUrl): Boolean = {
    if (u.domain.isEmpty) return false
    val tld = u.tld
    // strncmp(m_tld, "edu", 3): any tld whose first 3 chars are
    // edu/gov is exempt (edu.au included — reference quirk kept)
    if (tld.length >= 3 && (tld.startsWith("edu") || tld.startsWith("gov"))) return false
    val host = u.host
    // hostname minus "." + tld (slen = hlen - tldLen - 1)
    val slen = host.length - tld.length - 1
    if (slen <= 0) return false
    val s = host.substring(0, slen)
    if (slen > 30 && s.count(_ == '-') >= 4) return true
    // each [.-]-delimited segment through the word test
    var start = 0
    while (start < slen) {
      var end = start
      while (end < slen && s.charAt(end) != '.' && s.charAt(end) != '-') end += 1
      if (end > start && isAdult(s.substring(start, end))) return true
      start = end + 1
    }
    false
  }

  def isSpam(url: String): Boolean = isSpam(GbUrl.parse(url))
}
