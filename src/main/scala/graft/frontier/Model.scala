package graft.frontier

import java.sql.Timestamp

/** Typed schemas of the engine's tables (FIXTURES.md §1-4; reference
  * structs `/root/reference/src/Spider.h:468-912` SpiderRequest,
  * `Spider.h:926-1103` SpiderReply).
  *
  * At cluster scale the frontier tables are Iceberg tables partitioned
  * `bucket(N, first_ip)` with sort order (first_ip, uh48) — the exact
  * analogue of spiderdb's 128-bit key range sharding
  * (`Spider.h:370-377`, shard fn `Hostdb.cpp:2531-2547`). This repo has
  * no Iceberg jar, so snapshots are versioned parquet directories with a
  * manifest (same semantics: append-only snapshots, time-travel resume,
  * compaction rewrites).
  */
object Flags {
  // SpiderRequest one-bit flags (Spider.h:599-705), packed in a Long
  val IsAddUrl = 1L << 0
  val IsInjecting = 1L << 1
  val IsPageReindex = 1L << 2
  val IsPageParser = 1L << 3
  val IsNewOutlink = 1L << 4
  val IsRSSExt = 1L << 5
  val IsUrlPermalinkFormat = 1L << 6
  val ParentIsRSS = 1L << 7
  val ParentIsSiteMap = 1L << 8
  val ParentIsPingServer = 1L << 9
  val IsPingServer = 1L << 10
  val HasMediaExtension = 1L << 11
  val FakeFirstIp = 1L << 12
  val HadReply = 1L << 13
  val IsWWWSubdomain = 1L << 14
  val SameDom = 1L << 15
  val SameHost = 1L << 16
  val SameSite = 1L << 17
  val WasParentIndexed = 1L << 18
  val ParentIsPermalink = 1L << 19
  // J3 coexistence-signature bits (Spider.cpp:13779-13789): nothing in
  // the sandbox sets them yet (no content-bearing injection, no delete
  // requests), but the compaction signature must key on them so two
  // requests differing only here coexist like the reference's
  val HasContent = 1L << 20 // SpiderRequest::m_hasContent
  val ForceDelete = 1L << 21 // SpiderRequest::m_forceDelete
  // SpiderReply flags (Spider.h:1063-1103)
  val RepIsRSS = 1L << 0
  val RepIsPermalink = 1L << 1
  val RepIsIndexed = 1L << 2
  val RepWasIndexed = 1L << 3
  val RepFromInjection = 1L << 4

  @inline def has(flags: Long, bit: Long): Boolean = (flags & bit) != 0L
}

/** Input pages table (BASELINE.json input_hint). */
/** `header_charset`: the HTTP Content-Type charset param ("" when the
  * source had none — corpus pages). Carried so every re-decode of the
  * raw html bytes (fetch, iframe expansion) keeps X17→X7 header-charset
  * precedence that toPages applied to the text column.
  * `content_type`: the raw Content-Type field ("" = absent → CT_HTML,
  * like HttpMime::parse's pre-seed); the fetch path classifies it via
  * the X17 CT table and rejects non-text types (EDOCBADCONTENTTYPE). */
final case class PageRow(url: String, warc_ts: Timestamp, html: Array[Byte], text: String, lang: String,
                         header_charset: String = "", content_type: String = "")

/** Deterministic DNS/tagdb stand-in (FIXTURES.md §3; Spider.h:108-118). */
final case class HostMeta(host: String, first_ip: Int, site_num_inlinks: Int)

final case class RobotsRow(host: String, body: Array[Byte])

/** Sandbox stand-in for HTTP 30x responses: url → Location header. */
final case class RedirectRow(url: String, location: String)

/** One frontier request row ≅ SpiderRequest. */
final case class FrontierRequest(
    uh48: Long,
    first_ip: Int,
    url: String,
    host_hash32: Int,
    dom_hash32: Int,
    site_hash32: Int,
    site_num_inlinks: Int,
    added_time: Long, // secs
    discovery_time: Long, // secs
    hop_count: Int,
    parent_lang: String,
    flags: Long,
    err_count: Int,
    parent_doc_id: Long
)

/** One frontier reply row ≅ SpiderReply (latest per uh48 wins). */
final case class FrontierReply(
    uh48: Long,
    first_ip: Int,
    spidered_time: Long, // secs
    err_code: Int,
    http_status: Int,
    crawl_delay_ms: Int,
    download_end_time: Long, // ms
    lang: String,
    content_hash32: Int,
    percent_changed_per_day: Float,
    flags: Long,
    err_count: Int
)

/** Per-IP politeness state (waiting tree + lastDownloadCache analogue). */
final case class IpState(first_ip: Int, last_download_end_ms: Long)

/** Per-domain crawl-delay state (m_cdTable, Spider.h:1397). */
final case class DomState(dom_hash32: Int, crawl_delay_ms: Int)

/** Per-URL inlinking /24 c-block set feeding `numinlinks` rules
  * (SpiderRequest.m_pageNumInlinks, Spider.h:523; scan counter
  * Spider.cpp:4286-4327, cap 20). NOTE an intentional deviation: the
  * reference's scan counts c-blocks of `sreq->m_firstIp` — the TARGET's
  * own IP, identical across a uh48's requests — because the field that
  * once carried the discovering parent's IP is commented out
  * (Spider.h:520 m_parentFirstIp), leaving the count vestigially ≤1.
  * This engine implements the documented intent: distinct c-blocks of
  * the PARENT IPs that discovered the URL, so `numinlinks>7` rows
  * (default table rows 8-9, priority 51/52) actually fire. Keyed
  * (first_ip, uh48) to stay co-partitioned with the frontier; the
  * cblock set keeps the 20 smallest (deterministic; the reference keeps
  * first-seen-20, an order-dependent choice its own scan cannot
  * reproduce across merges). */
final case class InlinkState(first_ip: Int, uh48: Long, cblocks: Array[Int])

/** Minimal tagdb: one row per tagdb KEY — the url's SiteGetter site
  * string, which is what `Msg8a::getTagRec` keys lookups by
  * (`Tagdb.cpp:2597-2623` runs SiteGetter to derive the key; for plain
  * hosts the key IS the hostname). Tags modelled:
  *
  *  - `first_ip`: the pinned firstip tag (Spider.h:108-118 — "anytime we
  *    add outlinks from the same subdomain in the future they are
  *    guaranteed to get the same firstip even if the actual ip
  *    changed"). 0 = unset; pinned by the EARLIEST stamp.
  *  - `has_site_tag`: the "site" tag exists — written when a doc of the
  *    site is indexed (`XmlDoc::updateTagdb`). Gates the warm path of
  *    `getLinkSiteHashes` (XmlDoc.cpp:8905-8920): outlinks to sites with
  *    the tag carry hash32(site); cold outlinks fall back to the RAW
  *    host hash (no www-prepend, no recognized-site guess).
  *  - `cblocks`: distinct /24 c-blocks of parents that linked INTO the
  *    site (linkdb → Msg25 "no more than 1 per c block" analogue,
  *    XmlDoc.cpp:14178 comment). `sitenuminlinks` = cblocks.length once
  *    `has_site_tag` is set (the reference stores the Msg25 count as a
  *    tag at index time; this engine derives it from the same state,
  *    always fresh — a superset of the reference's ≤45-day-stale cache).
  *    Capped at the `Crawl.SiteInlinkCap` smallest (deterministic, same
  *    convention as InlinkState).
  *
  * `stamp` = iteration that created the row (pinning order). */
final case class TagState(
    site_hash32: Int,
    site: String,
    first_ip: Int,
    has_site_tag: Boolean,
    cblocks: Array[Int],
    stamp: Int
)

/** One scheduled fetch (a doledb entry; Spider.h:1133-1157).
  * `was_indexed`: this url had a prior successful reply — feeds the
  * outlinks' wasParentIndexed flag (XmlDoc.cpp:27891 `*ipi`). */
final case class FetchTask(
    uh48: Long,
    first_ip: Int,
    url: String,
    priority: Int,
    ufn: Int,
    spider_time_ms: Long,
    hop_count: Int,
    seq_in_ip: Int, // dole order within the IP this iteration
    was_indexed: Boolean = false,
    req_flags: Long = 0L, // request flag bits (EFAKEFIRSTIP lifecycle)
    // the request's site/dom hashes, carried so the A6 quota state can
    // be maintained from the batch alone — no O(frontier) re-join
    site_hash32: Int = 0,
    dom_hash32: Int = 0
)

/** S7: one crawled-content record ≅ a titledb titleRec
  * (`/root/reference/src/Titledb.cpp`; written from XmlDoc's meta list):
  * raw page bytes + byte-exact extracted text, keyed by uh48, appended
  * as snapshot deltas and compacted to latest-per-url. At cluster scale
  * this is the Iceberg `pages_crawled` table. */
final case class TitleRow(
    uh48: Long,
    url: String,
    spidered_time: Long,
    http_status: Int,
    lang: String,
    content_hash32: Int,
    html: Array[Byte],
    text: String,
    // TitleRec m_pageSampleVec analogue (XmlDoc.cpp:9527): ≤31 unique
    // 32-bit word ids — the old-doc side of percentChanged, stored so
    // the respider diff reads 124 bytes, not the old text
    sample_vec: Array[Int] = Array.empty
)

/** Per-iteration counters, recorded in the snapshot's MANIFEST.json. */
final case class MetricsRow(
    iteration: Int,
    scheduled: Long,
    fetched: Long,
    robots_denied: Long,
    errors: Long,
    new_urls: Long,
    dups_dropped: Long,
    wall_ms: Long,
    // how the iteration ran: Janino compiles in this JVM over it, its
    // shuffle partitions, and whether it ran on the quiet session
    codegen_compiles: Long,
    shuffle_partitions: Int,
    quiet: Boolean
)

/** Error codes used by the engine — values probed from the reference's
  * GbErrno.h enum by compiling it (see rules.UrlFilters.tmpErrors). */
object Errs {
  val OK = 0
  val EDOCDISALLOWED = 32828 // robots.txt denied (XmlDoc.cpp:4389-4397)
  val EDOCBADHTTPSTATUS = 32813 // 4xx/5xx (sandbox: page absent → 404)
  val EDOCREDIRECTSTOSELF = 32814
  val EDOCTOOMANYREDIRECTS = 32815
  val EDOCSIMPLIFIEDREDIR = 32816
  val EDOCBADREDIRECTURL = 32817
  val ELINKLOOP = 32876 // repeating path components (XmlDoc.cpp:4302)
  val EDOCBADCONTENTTYPE = 32811 // bad extension (XmlDoc.cpp:4507-4513)
  // the add-url DNS hop: a fake-firstIp add-url request is never
  // downloaded — indexDoc short-circuits (XmlDoc.cpp:2812-2828), the
  // reply carries EFAKEFIRSTIP under the fake ip and a revised request
  // is re-added under the real ip (XmlDoc.cpp:2617-2691, 2330-2367)
  val EFAKEFIRSTIP = 32911
  val EDNSTIMEDOUT: Int = graft.rules.UrlFilters.EDNSTIMEDOUT
}
