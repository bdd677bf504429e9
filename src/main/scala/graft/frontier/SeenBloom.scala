package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructField, StructType}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

/** The partitioned URL-seen Bloom set (north_star: "partitioned
  * Bloom/cuckoo-filter URL-seen set, salted-hash partitioned by
  * canonical-URL hash to kill skew at 10^10-URL scale").
  *
  * Layout: `buckets` blooms keyed by `uh48 & (buckets-1)` — uh48 is a
  * tabulation hash, so bucket populations are uniform regardless of
  * host skew (the salted-hash partitioning). The bloom table is
  * `(bloom_bucket int, bloom binary)`, one row per bloom bucket, and is
  * stored like every other keyed snapshot table: on the `StateTable`
  * bucket chain, keyed on `bloom_bucket` (Crawl.Tables). An iteration
  * rewrites only the chain buckets holding bloom buckets that received
  * fresh uh48s (bloom insertion is monotone — no rebuild), so
  * maintenance is O(new urls), and at 10^10 urls the table is
  * ~`10^10 * 1.2 bytes` split across buckets that each fit comfortably
  * in an executor.
  *
  * The bloom is strictly a PREFILTER: positives (including false
  * positives) still pay the exact anti-join, so the seen set stays
  * byte-exact (SURVEY §7 risk 4). Negatives are definitely new. */
object SeenBloom {

  def bucketOf(uh48: Long, buckets: Int): Int = (uh48 & (buckets - 1)).toInt

  /** [[bucketOf]] as a column: the bloom bucket an uh48 column lands in. */
  def bucketCol(uh48: Column, buckets: Int): Column =
    uh48.bitwiseAND(lit(buckets - 1L)).cast("int").as("bloom_bucket")

  /** The bloom table's schema. */
  val schema: StructType =
    StructType(Seq(StructField("bloom_bucket", IntegerType, false), StructField("bloom", BinaryType)))

  private def ser(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
  private def deser(b: Array[Byte]): BloomFilter = BloomFilter.readFrom(new ByteArrayInputStream(b))

  /** Build the bloom table from scratch (init / compaction). */
  def build(uh48s: Dataset[java.lang.Long], buckets: Int, expectedPerBucket: Long, fpp: Double): DataFrame =
    update(StateTable.empty(uh48s.sparkSession, schema), uh48s, buckets, expectedPerBucket, fpp)

  /** Add fresh uh48s to a bloom table: ONE cogroup on the bloom bucket
    * (the r3 shape was five shuffling operators whose job/stage fixed
    * costs dominated the micro loop's write barrier). Buckets that
    * receive uh48s come back rebuilt, the rest pass
    * through, so the result holds every bucket of `bloomTable` — the
    * complete contents of the chain buckets the caller rolls forward. */
  def update(bloomTable: DataFrame, fresh: Dataset[java.lang.Long], buckets: Int,
             expectedPerBucket: Long, fpp: Double): DataFrame = {
    require(expectedPerBucket >= 1, s"a bloom bucket must expect at least one item, not $expectedPerBucket")
    val spark = bloomTable.sparkSession
    import spark.implicits._
    val freshKeyed = fresh.map(h => (bucketOf(h, buckets), h.longValue()))
    val bloomKeyed = bloomTable.as[(Int, Array[Byte])].groupByKey(_._1)
    freshKeyed.groupByKey(_._1).cogroup(bloomKeyed) { (bucket, hs, blooms) =>
      val pending = hs.map(_._2).toArray
      val existing = blooms.buffered.headOption
      if (pending.isEmpty) existing.iterator // untouched pass-through
      else {
        // Spark's optimal bit count (BloomFilter.create(n, fpp)), but at
        // least one bit: a tiny bloom at a high fpp rounds to none
        val bits = -expectedPerBucket * math.log(fpp) / (math.log(2) * math.log(2))
        val bf = existing.map(b => deser(b._2))
          .getOrElse(BloomFilter.create(expectedPerBucket, math.max(1L, bits.toLong)))
        pending.foreach(bf.putLong)
        Iterator.single((bucket, ser(bf)))
      }
    }.toDF("bloom_bucket", "bloom")
  }

  /** Tag candidates with bloom membership via cogroup on the bucket key:
    * each task deserializes each of its buckets' blooms ONCE (nothing is
    * broadcast at 10^10 scale — blooms and candidates co-shuffle).
    * Returns (request, maybeSeen). */
  def tagged(candidates: Dataset[FrontierRequest], bloomTable: DataFrame, buckets: Int): Dataset[(FrontierRequest, Boolean)] = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val bloomKeyed = bloomTable.as[(Int, Array[Byte])].groupByKey(_._1)
    val candKeyed = candidates.groupByKey(c => bucketOf(c.uh48, buckets))
    candKeyed.cogroup(bloomKeyed) { (_, cands, blooms) =>
      val bf = blooms.buffered.headOption.map(b => deser(b._2))
      cands.map(c => (c, bf.exists(_.mightContainLong(c.uh48))))
    }
  }
}
