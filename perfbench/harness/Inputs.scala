package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.GbHash
import graft.frontier._

/** Seeded input generators. Every value is a pure function of the
  * workload seed and a row index, so the same seed gives byte-identical
  * inputs on every run and box, and a different seed gives different ones. */
object Inputs {

  /** SplitMix64 finaliser over (seed, x): the benchmark's only randomness. */
  def mix(seed: Long, x: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + x * 0xD1B54A32D192ED03L + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) for field `k` of row `i`. */
  def unit(seed: Long, i: Long, k: Int): Double = (mix(seed, i * 16 + k) >>> 11) * (1.0 / (1L << 53))

  /** Bounded non-negative int for field `k` of row `i`. */
  def below(seed: Long, i: Long, k: Int, n: Long): Long = java.lang.Long.remainderUnsigned(mix(seed, i * 16 + k), n)

  // ---- crawl seed lists ----------------------------------------------

  /** A seeded three-quarter sample of the corpus's host roots, in host order. */
  def seedHosts(seed: Long, nHosts: Int): Seq[Int] =
    (0 until nHosts).sortBy(k => mix(seed, k)).take(nHosts * 3 / 4).sorted

  def seedUrls(seed: Long, spec: Corpus.Spec): Seq[String] =
    seedHosts(seed, spec.nHosts).map(k => s"http://${Corpus.host(k)}/")

  // ---- frontier-schedule frontier --------------------------------------

  /** `rows` requests over `ips` IPs whose popularity is Zipf(`zipf`) by
    * rank, so a few hot IPs hold percent-level shares; `replyShare` of
    * the urls carry a prior reply, and every IP has politeness state. */
  final case class Frontier(rows: Long, ips: Int, zipf: Double, replyShare: Double)

  private val Day = 86400L
  val cfg: Crawl.Config = Crawl.Config()
  private def base = cfg.baseTimeSecs

  /** Cumulative Zipf weights over IP ranks 0 until `ips`. */
  def zipfCdf(ips: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(ips)(r => 1.0 / math.pow(r + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }

  /** Rank whose CDF bucket holds `u` (binary search). */
  def rankOf(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def ipOf(seed: Long, rank: Int): Int = {
    val h = (mix(seed ^ 0x5bd1e995L, rank) >>> 32).toInt
    if (h == 0 || h == -1) 1 else h
  }

  private def hostOf(seed: Long, rank: Int, i: Long): String = s"www.r${rank}h${i % 3}.s$seed.test"

  def request(seed: Long, i: Long, cdf: Array[Double]): FrontierRequest = {
    val rank = rankOf(cdf, unit(seed, i, 0))
    val host = hostOf(seed, rank, i)
    val url = s"http://$host/p$i.html"
    val added = base - below(seed, i, 1, 30 * Day)
    FrontierRequest(
      uh48 = GbHash.uh48(url), first_ip = ipOf(seed, rank), url = url,
      host_hash32 = GbHash.hash32(host), dom_hash32 = GbHash.hash32(host.stripPrefix("www.")),
      site_hash32 = GbHash.hash32(host), site_num_inlinks = below(seed, i, 2, 12).toInt,
      added_time = added, discovery_time = added,
      hop_count = below(seed, i, 3, 5).toInt, parent_lang = "en",
      flags = Flags.IsNewOutlink | (if (below(seed, i, 4, 50) == 0) Flags.IsAddUrl else 0L),
      err_count = 0, parent_doc_id = below(seed, i, 5, 1000000000000L))
  }

  def reply(seed: Long, i: Long, cdf: Array[Double], share: Double): Option[FrontierReply] =
    if (unit(seed, i, 6) >= share) None
    else {
      val r = request(seed, i, cdf)
      val spidered = base - below(seed, i, 7, 40 * Day)
      val bad = below(seed, i, 8, 100) < 8
      Some(FrontierReply(
        uh48 = r.uh48, first_ip = r.first_ip, spidered_time = spidered,
        err_code = if (bad) Errs.EDOCBADHTTPSTATUS else Errs.OK,
        http_status = if (bad) 404 else 200, crawl_delay_ms = -1,
        download_end_time = spidered * 1000L + 500L, lang = "en",
        content_hash32 = (mix(seed, i * 16 + 9) >>> 32).toInt,
        percent_changed_per_day = below(seed, i, 10, 500) / 100f,
        flags = if (bad) 0L else Flags.RepIsIndexed, err_count = if (bad) 1 + below(seed, i, 11, 2).toInt else 0))
    }

  /** Last download end per IP: 0-10 minutes before the schedule clock. */
  def ipState(seed: Long, rank: Int): IpState =
    IpState(ipOf(seed, rank), Crawl.nowMs(cfg, 1) - below(seed, rank.toLong + (1L << 40), 12, 600000L))

  /** `slice` > 0 keeps only the seeded 1/`slice` of row ids ([[inSlice]]). */
  def requests(spark: SparkSession, seed: Long, f: Frontier, slice: Int = 0): Dataset[FrontierRequest] = {
    import spark.implicits._
    spark.range(f.rows).mapPartitions { ids =>
      val cdf = zipfCdf(f.ips, f.zipf)
      ids.map(_.longValue).filter(i => slice <= 0 || inSlice(seed, i, slice)).map(i => request(seed, i, cdf))
    }
  }

  def replies(spark: SparkSession, seed: Long, f: Frontier, slice: Int = 0): Dataset[FrontierReply] = {
    import spark.implicits._
    spark.range(f.rows).mapPartitions { ids =>
      val cdf = zipfCdf(f.ips, f.zipf)
      ids.map(_.longValue).filter(i => slice <= 0 || inSlice(seed, i, slice))
        .flatMap(i => reply(seed, i, cdf, f.replyShare))
    }
  }

  def ipStates(spark: SparkSession, seed: Long, f: Frontier): Dataset[IpState] = {
    import spark.implicits._
    spark.range(f.ips).map(r => ipState(seed, r.intValue))
  }

  /** The seeded 1/`every` slice of row ids the interpreter cross-check uses. */
  def inSlice(seed: Long, i: Long, every: Int): Boolean = below(seed, i, 13, every) == 0
}
