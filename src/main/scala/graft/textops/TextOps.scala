package graft.textops

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.GbHash

/** Large-scale training-data pipeline operators over the `documents` and
  * `embeddings` tables: deduplication (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine), similarity search (brute-force
  * cosine top-k + LSH-bucketed), and text analysis (language id, quality
  * scoring, token counts, fingerprinting).
  *
  * Scale notes: everything is expressed as DataFrame transforms so
  * Catalyst prunes/pushes down; the only shuffles are the groupBys on
  * shingle/band/bucket keys, which partition evenly by construction
  * (hash keys). Pairwise joins are always bounded by a candidate-key
  * equi-join (shingle, band bucket, LSH bucket) — never a cross join —
  * so they survive a 100× scale-up; the brute-force cosine top-k
  * broadcasts only the (small) query set.
  */
object TextOps {

  // ------------------------------------------------------------ exact dup

  /** Exact duplicate detection. Shape matters at 100 TB: a window
    * `partitionBy(text)` has no map-side combine and SORTS partitions by
    * the full document text; this hash-aggregate groups on
    * (xxhash64(text), text) — partial aggregation combines duplicates
    * before the shuffle and nothing ever sorts on a megabyte string key.
    * Exactness is preserved (text stays in the key; the hash only
    * cheapens compares/partitioning). The collect_list per distinct text
    * is bounded by the duplicate-group size. */
  def exactDupCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), xxhash64(col("text")).as("th"), col("text"))
      .groupBy(col("th"), col("text"))
      .agg(count(lit(1)).as("dup_count"), collect_list(col("doc_id")).as("ids"))
      .select(explode(col("ids")).as("doc_id"), col("dup_count"))

  // ------------------------------------------------------- n-gram jaccard

  /** Per-doc DISTINCT word-2-gram shingle ARRAY — r6: the per-doc dedup
    * is array_distinct inside the row (guide §2.4: the r5 shape paid a
    * corpus-wide `.distinct()` shuffle for a dedup that is local to one
    * document; a global distinct on (doc_id, sh) IS the per-doc
    * distinct, since doc_id is in the key). */
  private def shingleArr: Column = array_distinct(expr(
    "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"))

  /** Word 2-gram shingles per doc (distinct). */
  def shingles(docs: DataFrame, maxDocId: Long): DataFrame =
    docs.filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(shingleArr).as("sh"))

  /** Exact n-gram Jaccard pairs: candidate pairs share ≥1 shingle; the
    * equi-join on the shingle key replaces a cross join (scales with
    * shared-shingle volume, not |docs|²). Returns integer intersection /
    * union sizes (exact, no float compare issues). r6: per-doc shingle
    * sizes are size(array_distinct(...)) row-local (count(*)-equal by
    * construction, including the null artifact a single-word doc
    * produces), so the three corpus-wide distinct shuffles of the r5
    * shape collapse to zero — the only remaining exchanges are the
    * self-join on the shingle key and its pair aggregate. */
  def ngramJaccardPairs(docs: DataFrame, maxDocId: Long = 200L, minJaccardPct: Int = 50): DataFrame = {
    // no .cache(): the shingle set is recomputed by the self-join sides
    // (cheap column work) instead of pinning executor memory that the
    // caller can never unpersist from a returned lazy DataFrame
    val sh = shingles(docs, maxDocId)
    val sizes = docs.filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), size(shingleArr).cast("long").as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .withColumn("union_sz", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 100 >= col("union_sz") * minJaccardPct)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"))
  }

  // --------------------------------------------------------- minhash + lsh

  /** MinHash signatures over word-2-gram shingles using the engine's
    * tabulation hash family: h_i(s) = hash64h(seed_i, hash64(s)).
    * r6: the signature is the codegen'd [[graft.functions.MinhashSigExpr]]
    * instead of a scalar UDF — the minhash stage (the dedup_clusters
    * floor) no longer pays the catalyst↔Scala converter round-trip per
    * row (guide §4.1); same loop, same values ([[minhashSigOf]]). */
  def minhashSignatures(docs: DataFrame, numHashes: Int, maxDocId: Long = Long.MaxValue): DataFrame =
    docs.filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), graft.functions.GraftFunctions.minhashSig(col("text"), numHashes).as("sig"))

  /** The per-doc minhash kernel (pure; called from the generated code). */
  private[graft] def minhashSigOf(text: String, n: Int): Array[Long] = {
    val words = text.split(' ')
    val sig = Array.fill(n)(Long.MaxValue)
    var i = 0
    while (i < words.length - 1) {
      val h0 = GbHash.hash64(words(i) + " " + words(i + 1))
      var k = 0
      while (k < n) {
        val h = GbHash.hash64h(k.toLong * 0x9e3779b97f4a7c15L, h0)
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      i += 1
    }
    sig
  }

  /** LSH banding: split the signature into `bands` bands of r rows; docs
    * sharing any band bucket are candidate pairs (equi-join on the band
    * key — the scale path for near-dup detection at 100 TB). */
  def minhashLshCandidates(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
                           maxDocId: Long = Long.MaxValue): DataFrame = {
    val r = numHashes / bands
    val sigs = minhashSignatures(docs, numHashes, maxDocId)
    val banded = sigs.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, ${bands - 1}), b -> hash(slice(sig, b * $r + 1, $r)))")))
      .toDF("doc_id", "band", "bucket")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Connected components over a near-dup pair list — the cluster
    * assignment a dedup pipeline needs AFTER pair detection (pick one
    * canonical doc per component, drop the rest). Iterative min-label
    * propagation: each round every node takes the min label over its
    * closed neighborhood; converges in O(component diameter) rounds,
    * each round one equi-join + hash-aggregate, nothing collected.
    * Banded-LSH dup graphs are near-cliques (diameter ~2), so the loop
    * is 2-3 rounds in practice; at 100 TB the same loop runs with the
    * edge list bucketed by node, and a hub-heavy graph would swap in
    * the large-star/small-star contraction — same join shapes.
    *
    * Input: (doc_a, doc_b); output: (doc_id, cluster_id) for every doc
    * appearing in a pair, cluster_id = min doc_id of its component. */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().persist()
    // materialize the edge cache once and read its size: the loop's
    // session and partitioning are sized from it (scale-adaptive, not
    // a constant — guide §2). A bounded scalar action, like the
    // crawl's per-partition tally.
    val nEdges = edges.count()
    // micro graphs: run the per-round propagation through the quiet
    // sibling session sized from the edge count — under AQE every
    // query-stage materialization is its own Spark job, which triples
    // the per-round job count on a graph whose rounds take milliseconds
    // (the crawl loop's quiet session; same SparkContext, same cache;
    // AQE, codegen and partition count change only execution). Big
    // edge lists keep the caller's session: skew-join splitting and
    // partition coalescing are the 100×-scale story there.
    val quiet: SparkSession =
      if (nEdges >= GraftShim.QuietBatchRows) spark else GraftShim.quietSession(spark, nEdges)
    def onQuiet(df: DataFrame): DataFrame =
      if (quiet eq spark) df
      else GraftShim.onSession(quiet, df)
    var labels = onQuiet(edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .withColumn("prev", col("lbl"))).persist()
    var changed = 1L
    while (changed > 0) {
      // r6 (guide §2.4): ONE aggregate carries both the new label (min
      // over the closed neighborhood) and the previous label — each id
      // contributes its own-label row exactly once, tagged in `prev`,
      // so max(prev) recovers it — and convergence is read off the
      // same job. The r5 shape re-joined `next` against `labels` for
      // the change count: an extra shuffle join + wide lineage per
      // round, now gone (rounds and results are identical — the
      // propagation math is unchanged).
      val next = onQuiet(labels.select(col("id"), col("lbl"), col("lbl").as("prev"))
        .union(edges.join(labels, col("dst") === col("id"))
          .select(col("src").as("id"), col("lbl"), lit(null).cast("long").as("prev")))
        .groupBy("id").agg(min(col("lbl")).as("lbl"), max(col("prev")).as("prev")))
        .persist()
      changed = next.filter(col("lbl") =!= col("prev")).count()
      labels.unpersist()
      labels = next
    }
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  // ---------------------------------------------------------------- simhash

  /** 64-bit SimHash over word hashes. */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    for (w <- text.split(' ') if w.nonEmpty) {
      val h = GbHash.hash64(w)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash near-dup candidates: 4 16-bit chunks as LSH keys (hamming
    * distance ≤ 3 ⇒ at least one chunk equal). r6: the hamming distance
    * is the codegen'd `bit_count(a ^ b)` built-in instead of a scalar
    * UDF (guide §4.1 — no SerDe boundary in the pair path; same int
    * popcount). */
  def simhashCandidates(docs: DataFrame, maxDocId: Long = Long.MaxValue, maxHamming: Int = 3): DataFrame = {
    // r6 (guide §4.1): simhash via the codegen'd Simhash64Expr (same
    // simhash64 loop, no UDF SerDe in the signature pass)
    val hashed = docs.filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), graft.functions.GraftFunctions.simhash64(col("text")).as("simhash"))
    val chunked = hashed.select(col("doc_id"), col("simhash"), posexplode(expr(
      "transform(sequence(0, 3), c -> (simhash >> (c * 16)) & 65535)"))).toDF("doc_id", "simhash", "chunk", "ckey")
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // hamming is deterministic per pair, so filtering before the
      // dedup keeps the identical pair set while the distinct's
      // exchange moves only rows that survive the threshold
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ------------------------------------------------------ similarity search

  /** Brute-force cosine top-k: queries broadcast against the corpus.
    * r6 (guide §4.1): dots/norms via the codegen'd [[graft.functions.VDotExpr]]
    * — Spark's higher-order `aggregate`/`zip_with` are CodegenFallback
    * and box every float element through their lambda variables; the
    * native expression runs the same double-precision index-order sum
    * (bit-identical on the fixed-dim embeddings) with no per-element
    * allocation. */
  def cosineTopK(emb: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame = {
    import graft.functions.GraftFunctions.vdot
    val withNorm = emb.withColumn("norm", sqrt(vdot(col("embedding"), col("embedding"))))
    val queries = withNorm.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val joined = withNorm.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dot", vdot(col("embedding"), col("q_emb")))
      .withColumn("cosine", col("dot") / (col("norm") * col("q_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** SplitMix64 finalizer (Steele/Lea/Flood, public domain) — full
    * avalanche per key. The tabulation hash (GbHash.hash64h) must NOT be
    * used to derive hyperplanes: for keys differing only in the low
    * byte it reduces to `tab(0,d) ^ C`, making every plane a XOR-shift
    * of the same 64 table values — correlated planes, measurably lost
    * LSH recall (0.87 observed vs 0.997 theory at t=0.35). */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic i.i.d. Gaussian hyperplanes via Box-Muller over
    * SplitMix64 streams — the sign-LSH acos collision formula assumes
    * spherically uniform plane normals (uniform-cube components bias
    * toward corners and cost recall). */
  private def gaussianPlanes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        val k = p.toLong << 32 | d.toLong
        val u1 = (mix64(k) >>> 11).toDouble / (1L << 53).toDouble
        val u2 = (mix64(k ^ 0x5bd1e995c2b2ae3dL) >>> 11).toDouble / (1L << 53).toDouble
        math.sqrt(-2.0 * math.log(u1 + 1e-300)) * math.cos(2.0 * math.Pi * u2)
      }
    }

  /** Planes are a pure deterministic function of (nPlanes, dim), so
    * every JVM derives them locally once (cached) — the broadcast the
    * r5 UDF shape carried is gone from the plan entirely. */
  private val planesCache = new java.util.concurrent.ConcurrentHashMap[Long, Array[Array[Double]]]()
  private[graft] def planesFor(nPlanes: Int, dim: Int): Array[Array[Double]] =
    planesCache.computeIfAbsent((nPlanes.toLong << 32) | dim.toLong,
      _ => gaussianPlanes(nPlanes, dim))

  /** Sign-LSH signature kernel (pure; called from the generated code of
    * [[graft.functions.PlaneSigExpr]]). Reads the catalyst float array
    * directly — the r5 UDF converted every embedding to a boxed
    * Seq[Float] per row before the same loop. */
  private[graft] def planeSigOf(v: org.apache.spark.sql.catalyst.util.ArrayData,
                                nPlanes: Int, dim: Int): Int = {
    val ps = planesFor(nPlanes, dim)
    var sig = 0
    var p = 0
    val vn = v.numElements()
    while (p < ps.length) {
      var dot = 0.0
      var d = 0
      val lim = math.min(vn, ps(p).length)
      while (d < lim) { dot += v.getFloat(d) * ps(p)(d); d += 1 }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** LSH-bucketed ANN (the 100 TB path): banded random-hyperplane
    * OR-construction — a vector is a candidate for a query iff they
    * share at least one band of the sign signature; candidates (and
    * only candidates) are exactly re-ranked by cosine. Bands trade
    * recall for candidate volume: r-bit bands match a pair at angle-
    * collision prob p with prob 1-(1-p^r)^bands. Recall vs the exact
    * top-k is measured per-corpus by GenTextOpsGoldens and recorded in
    * BENCH.md. (A single nPlanes-bit bucket probe is useless on data
    * without strong near-dups — with 12 good planes and 500 vectors,
    * buckets hold <1 vector on average.) */
  def lshCosineTopK(emb: DataFrame, nQueries: Int = 20, k: Int = 5,
                    nPlanes: Int = 24, bands: Int = 8, dim: Int = 64): DataFrame = {
    // r6 (guide §4.1): signature + norms via codegen'd native
    // expressions (PlaneSigExpr / VDotExpr) — no UDF SerDe, no
    // Seq[Float] boxing, no plane broadcast (planes derive from the
    // plan constants per JVM); identical signatures and cosines.
    import graft.functions.GraftFunctions.{planeSig, vdot}
    val r = nPlanes / bands
    val mask = (1 << r) - 1
    val withSig = emb.withColumn("sig", planeSig(col("embedding"), nPlanes, dim))
      .withColumn("norm", sqrt(vdot(col("embedding"), col("embedding"))))
    val bandsOf = expr(s"transform(sequence(0, ${bands - 1}), b -> shiftright(sig, b * $r) & $mask)")
    val banded = withSig.select(col("vec_id"), col("embedding"), col("norm"),
        posexplode(bandsOf)).toDF("vec_id", "embedding", "norm", "band", "bkey")
    val queries = banded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"), col("band").as("q_band"), col("bkey").as("q_bkey"))
    // OR-construction: candidate iff ANY band matches; r6: the exact
    // cosine is computed BEFORE the pair dedup so the dropDuplicates
    // exchange moves (q_id, vec_id, cosine) — a few dozen bytes —
    // instead of two 64-float embeddings per row (guide §2.3 "shuffle
    // keys and metadata instead of payloads"; a multi-band collision
    // now costs one extra map-side dot, bounded by the band count, and
    // the duplicate rows carry identical cosines so the kept row is
    // unchanged)
    val joined = banded.join(broadcast(queries),
        col("band") === col("q_band") && col("bkey") === col("q_bkey") &&
          col("vec_id") =!= col("q_id"))
      .withColumn("dot", vdot(col("embedding"), col("q_emb")))
      .withColumn("cosine", col("dot") / (col("norm") * col("q_norm")))
      .select(col("q_id"), col("vec_id"), col("cosine"))
      .dropDuplicates("q_id", "vec_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** EXACT embedding-cosine near-dup pairs above an integer-percent
    * threshold. This is the exhaustive-verify stage: O(n²) dot products
    * are inherent to an exact cosine threshold, so at corpus scale it
    * must only ever run on LSH candidate sets (embeddingLshDupPairs) —
    * never corpus-wide. The capped side is explicitly broadcast so the
    * plan is a BroadcastNestedLoopJoin (bounded memory, no
    * CartesianProduct partition explosion). */
  def embeddingDupPairs(emb: DataFrame, maxVecId: Long = 300L, minCosPct: Int = 90): DataFrame = {
    import graft.functions.GraftFunctions.vdot
    val sub = emb.filter(col("vec_id") < maxVecId)
      .withColumn("norm", sqrt(vdot(col("embedding"), col("embedding"))))
    sub.as("a").join(broadcast(sub.as("b")), col("a.vec_id") < col("b.vec_id"))
      .withColumn("dot", vdot(col("a.embedding"), col("b.embedding")))
      .filter(col("dot") >= lit(minCosPct / 100.0) * col("a.norm") * col("b.norm"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
  }

  /** The 100-TB shape for embedding near-dup: banded random-hyperplane
    * LSH candidate generation (equi-join on (band, band-signature)) +
    * exact cosine verify of candidates only. With `nPlanes` planes in
    * `bands` bands of r = nPlanes/bands, a pair at cosine ≥ t collides in
    * at least one band with prob 1-(1-p^r)^bands, p = 1-acos(t)/π —
    * e.g. t=0.9, 24 planes in 12 bands of 2: ~99.97%. Recall is below 1
    * by construction (this is why the exact verify op above cannot be
    * "just bucketed" and keep identical output at low thresholds). */
  def embeddingLshDupPairs(emb: DataFrame, minCosPct: Int = 90,
                           nPlanes: Int = 24, bands: Int = 12, dim: Int = 64): DataFrame = {
    // r6 (guide §4.1): PlaneSigExpr/VDotExpr replace the signature UDF
    // and the higher-order aggregate — see lshCosineTopK
    import graft.functions.GraftFunctions.{planeSig, vdot}
    val r = nPlanes / bands
    val withSig = emb
      .withColumn("sig", planeSig(col("embedding"), nPlanes, dim))
      .withColumn("norm", sqrt(vdot(col("embedding"), col("embedding"))))
    val mask = (1 << r) - 1
    val banded = withSig.select(col("vec_id"), col("embedding"), col("norm"),
      posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> shiftright(sig, b * $r) & $mask)")))
      .toDF("vec_id", "embedding", "norm", "band", "bkey")
    // r6 (guide §2.3): the exact-verify dot and threshold run BEFORE
    // the pair dedup, so the dropDuplicates exchange carries only the
    // 16-byte id pairs of SURVIVING near-dups instead of two 64-float
    // embeddings per candidate. A multi-band collision pays one extra
    // map-side dot (bounded by the band count); duplicates of a pair
    // carry identical dots, so they pass or fail the threshold
    // together and the surviving pair set is unchanged.
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.embedding").as("ea"), col("b.embedding").as("eb"),
        col("a.norm").as("na"), col("b.norm").as("nb"))
      .withColumn("dot", vdot(col("ea"), col("eb")))
      .filter(col("dot") >= lit(minCosPct / 100.0) * col("na") * col("nb"))
      .select(col("vec_a"), col("vec_b"))
      .dropDuplicates("vec_a", "vec_b") // same pair from several bands
  }

  // ------------------------------------------------------------ text stats

  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "that",
    "for", "on", "was", "with", "as", "at", "by", "be", "this", "are",
    "or", "from", "but", "not", "have", "had", "has", "they", "you", "we")

  /** Token counts: whitespace tokens + BPE-ish regex tokens (runs of
    * word chars or single non-space symbols). Pure column expressions. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\\\s]', 0)")).as("re_tokens"))

  /** Quality scoring: integer components only (exact cross-engine). */
  def qualityStats(docs: DataFrame): DataFrame = {
    val sw = stopwords.map(s => s"'$s'").mkString("(", ",", ")")
    docs.select(
      col("doc_id"),
      col("n_chars"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens"),
      expr(s"size(filter(split(trim(text), '\\\\s+'), x -> x in $sw))").as("stopword_count"),
      size(array_distinct(split(trim(col("text")), "\\s+"))).as("distinct_tokens"))
  }

  /** Language id (X14): see [[graft.core.GbLang]]. */
  def langIdOf(text: String): String = {
    // the X14 pipeline (GbLang: dictionary word voting + script fallback
    // + 5-word window smoothing + majority vote — the reference's
    // setLangVec/computeLangId shape with a curated dictionary standing
    // in for the wiktionary data file)
    val lid = graft.core.GbLang.docLangId(text)
    if (lid == graft.core.GbLang.langUnknown) "und" else graft.core.GbLang.abbr(lid)
  }

  def langId(docs: DataFrame): DataFrame =
    // r6: codegen'd LangIdExpr (same langIdOf pipeline, no UDF SerDe)
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.langId(col("text")).as("pred_lang"), col("lang"))

  /** Document fingerprint: Karp-Rabin rolling hash over bytes; returns the
    * min of the rolling window hashes (winnowing-style robust id). */
  def fingerprint(text: String, window: Int = 16): Long = {
    val bytes = text.getBytes("UTF-8")
    if (bytes.length < window) return GbHash.hash64(text)
    val B = 1000000007L
    var pow = 1L
    var i = 0
    while (i < window - 1) { pow = pow * B; i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = h * B + (bytes(i) & 0xff); i += 1 }
    var min = h
    while (i < bytes.length) {
      h = (h - (bytes(i - window) & 0xff) * pow) * B + (bytes(i) & 0xff)
      if (h < min) min = h
      i += 1
    }
    min
  }

  def fingerprints(docs: DataFrame): DataFrame =
    // r6: codegen'd Fingerprint64Expr (same Karp-Rabin loop, no UDF SerDe)
    docs.select(col("doc_id"),
      graft.functions.GraftFunctions.fingerprint64(col("text")).as("fingerprint"))

  // ------------------------------------------------------------ multimodal

  /** Multimodal column plumbing with a REAL header decoder: treats a
    * binary column as an opaque media blob, sniffs the container by
    * magic bytes and parses the dimensions out of the header with pure
    * byte reads — no codec dependency, the same role the reference
    * fills by shelling out to giftopnm/bmptopnm for thumbnailing
    * (Images.cpp: gbgetexecpath + "giftopnm"/"bmptopnm" pipeline).
    * Formats: PNG (IHDR), GIF87a/89a (logical screen descriptor),
    * BMP (BITMAPINFOHEADER), JPEG (SOFn marker scan). Unknown or
    * truncated blobs → ("unknown", -1, -1): malformed media must not
    * fail the pipeline, it must be filterable. */
  def decodeHeader(b: Array[Byte]): (String, Int, Int) = {
    @inline def u8(i: Int) = b(i) & 0xff
    @inline def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    @inline def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    @inline def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    @inline def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    val unknown = ("unknown", -1, -1)
    if (b.length >= 24 && u8(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
      u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a)
      ("png", be32(16), be32(20)) // IHDR is always the first chunk at offset 8
    else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      ("gif", le16(6), le16(8))
    else if (b.length >= 26 && b(0) == 'B' && b(1) == 'M')
      ("bmp", le32(18), math.abs(le32(22))) // height < 0 = top-down DIB
    else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // JPEG: walk marker segments to the first SOFn (C0-CF minus the
      // non-frame C4/C8/CC); dims are big-endian at +5 (height first)
      var i = 2
      while (i + 9 < b.length) {
        if (u8(i) != 0xff) return unknown
        val m = u8(i + 1)
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
          return ("jpeg", be16(i + 7), be16(i + 5))
        if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone marker
        else i += 2 + be16(i + 2)
      }
      unknown
    } else unknown
  }

  /** 8-bin normalized byte histogram over the payload — a real (if
    * simple) per-blob feature vector; downstream contract is a
    * fixed-shape array<float> column. */
  def byteHistogram(b: Array[Byte]): Array[Float] = {
    val bins = new Array[Float](8)
    var i = 0
    while (i < b.length) { bins((b(i) & 0xff) >> 5) += 1f; i += 1 }
    if (b.length > 0) { var j = 0; while (j < 8) { bins(j) /= b.length; j += 1 } }
    bins
  }

  def decodeMedia(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    // per-partition batched iteration — the mapInPandas-shaped contract:
    // decoder state initializes ONCE per partition (real codecs are
    // expensive to construct), rows stream through it
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real decoder/codec init would happen here, once per partition
        it.map { case (id, bIn) =>
          val b = if (bIn == null) Array.empty[Byte] else bIn
          val (fmt, w, h) = decodeHeader(b)
          (id, fmt, w, h, byteHistogram(b))
        }
      }
      .toDF(idCol, "format", "width", "height", "features")
  }

  /** Deterministic VALID media fixtures, one per (id, fmt): real PNG
    * (zlib IDAT + CRC32 chunks), GIF89a, BMP (BITMAPINFOHEADER) bytes
    * whose dimensions derive from the id — lets an oracle recompute
    * width/height as pure arithmetic while the engine proves it parsed
    * them back OUT OF THE BYTES. Validity is asserted in tests by
    * re-reading with javax.imageio. */
  /** Fixture format rotation (the 4th slot is deliberately junk —
    * malformed media is a first-class input at 100 TB). */
  private val fixtureFormats = Array("png", "gif", "bmp", "unknown")
  def mediaFixtureFormat(id: Long): String = fixtureFormats(math.floorMod(id, 4).toInt)

  def mediaBlob(id: Long, fmt: String): Array[Byte] = {
    val w = 1 + math.floorMod(id * 7 + 3, 64).toInt
    val h = 1 + math.floorMod(id * 13 + 5, 64).toInt
    fmt match {
      case "png" =>
        val bos = new java.io.ByteArrayOutputStream()
        def chunk(tag: String, body: Array[Byte]): Unit = {
          val len = body.length
          bos.write(Array[Byte]((len >>> 24).toByte, (len >>> 16).toByte, (len >>> 8).toByte, len.toByte))
          val tb = tag.getBytes("US-ASCII")
          val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(body)
          val c = crc.getValue
          bos.write(tb); bos.write(body)
          bos.write(Array[Byte]((c >>> 24).toByte, (c >>> 16).toByte, (c >>> 8).toByte, c.toByte))
        }
        bos.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
        val ihdr = java.nio.ByteBuffer.allocate(13)
        ihdr.putInt(w).putInt(h).put(8.toByte).put(0.toByte) // 8-bit grayscale
          .put(0.toByte).put(0.toByte).put(0.toByte)
        chunk("IHDR", ihdr.array())
        val raw = new Array[Byte](h * (w + 1)) // zero scanlines, filter 0
        val defl = new java.util.zip.Deflater()
        defl.setInput(raw); defl.finish()
        val comp = new Array[Byte](raw.length + 64)
        val n = defl.deflate(comp); defl.end()
        chunk("IDAT", java.util.Arrays.copyOf(comp, n))
        chunk("IEND", Array.empty[Byte])
        bos.toByteArray
      case "gif" =>
        val bos = new java.io.ByteArrayOutputStream()
        bos.write("GIF89a".getBytes("US-ASCII"))
        bos.write(Array[Byte](w.toByte, (w >> 8).toByte, h.toByte, (h >> 8).toByte))
        bos.write(Array[Byte](0xf0.toByte, 0, 0))           // GCT flag, 2 colors
        bos.write(Array[Byte](0, 0, 0, 0xff.toByte, 0xff.toByte, 0xff.toByte))
        bos.write(Array[Byte](0x2c, 0, 0, 0, 0,             // image descriptor
          w.toByte, (w >> 8).toByte, h.toByte, (h >> 8).toByte, 0))
        bos.write(2) // LZW min code size
        // raw LZW: clear(4), then w*h literal 0-pixels in 3-bit codes,
        // end(5) — emitted as packed sub-blocks
        val codes = Seq(4) ++ Seq.fill(w * h)(0) ++ Seq(5)
        val bits = new java.io.ByteArrayOutputStream()
        var acc = 0L; var nb = 0
        codes.foreach { c =>
          acc |= c.toLong << nb; nb += 3
          while (nb >= 8) { bits.write((acc & 0xff).toInt); acc >>>= 8; nb -= 8 }
        }
        if (nb > 0) bits.write((acc & 0xff).toInt)
        val data = bits.toByteArray
        var off = 0
        while (off < data.length) {
          val blk = math.min(255, data.length - off)
          bos.write(blk); bos.write(data, off, blk); off += blk
        }
        bos.write(0)    // block terminator
        bos.write(0x3b) // trailer
        bos.toByteArray
      case "bmp" =>
        val rowBytes = (w * 3 + 3) & ~3
        val size = 54 + rowBytes * h
        val bb = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
        bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        bb.putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
        bb.array()
      case _ =>
        val j = s"junk$id".getBytes("UTF-8")
        GbHash.hash64(j, 0, j.length, 0L).toString.getBytes("UTF-8")
    }
  }
}
