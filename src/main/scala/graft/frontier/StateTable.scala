package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** O(delta) state maintenance: hash-bucketed LSM chain for every keyed
  * snapshot table (inlink/tag/quota/dom state and the seen bloom — the
  * list is `Crawl.Keyed`).
  *
  * The r3 engine rewrote EVERY state table in full each iteration even
  * though the per-iteration delta is tiny (VERDICT r3 "What's wrong"
  * #2): at 10^10 URLs, inlink_state is O(urls-with-inlinks) — a full
  * shuffle + rewrite per iteration. The reference never does this: its
  * Rdb trees absorb deltas in memory and dump/merge them incrementally
  * (Rdb.cpp addRecord / dumpTree; RdbMerge). This is the Spark-native
  * analogue:
  *
  *  - rows are hash-bucketed on the table's key (tabulation/xxhash →
  *    uniform buckets regardless of host skew);
  *  - a snapshot stores either a FULL table (`_GRAFT_FULL` marker —
  *    init or compaction, all buckets present) or a DELTA (only the
  *    buckets whose keys this iteration touched, written via
  *    `partitionBy("bucket")` so untouched buckets simply do not
  *    appear);
  *  - the loader walks the snapshot chain newest-first taking the FIRST
  *    version of each bucket it sees (newer shadows older) and stops at
  *    a full snapshot — no read of superseded versions;
  *  - the merge path (`Crawl.rollForward`) collects the delta's touched
  *    bucket ids on the driver (the delta is small by construction),
  *    row-filters the FULL prior table to those buckets, merges them
  *    with the delta under the caller's own semantics, and writes just
  *    those buckets forward.
  *
  * Iteration cost: the prior is scanned whole, but only the touched
  * buckets' rows are shuffled and rewritten — O(delta +
  * rows-in-touched-buckets) write I/O, instead of O(state). Bucket
  * count sizes a bucket to a comfortable task (state/B rows); the chain
  * is reset by compaction (writeFull).
  */
object StateTable {

  /** Uniform bucket id for a key column. uh48/site hashes are already
    * tabulation-hashed; xxhash64 re-mixes arbitrary key tuples. */
  def bucketCol(keys: Seq[Column], buckets: Int): Column =
    pmod(xxhash64(keys: _*), lit(buckets)).cast("int")

  private def fullMarker(dir: String) = new java.io.File(dir, "_GRAFT_FULL")

  /** One bucket is one task's worth of rows — so the COUNT must follow
    * the table's size, not a constant: a 100-row micro-loop table wants
    * 1 bucket (the r4 profile showed 64 near-empty partitions per write
    * and 64-path scans per load dominating the micro loop), while a
    * 10^10-url inlink_state wants thousands. Chosen at full-write
    * (init / compaction) time from the chain's on-disk bytes and
    * recorded in the `_GRAFT_FULL` marker; deltas and loads read it
    * from there, so bucket ids stay stable between compactions. */
  def bucketsForBytes(bytes: Long): Int = {
    val target = 32L * 1024 * 1024 // ~32 MB of parquet per bucket
    math.max(1L, math.min(65536L, (bytes + target - 1) / target)).toInt
  }

  /** Driver-side on-disk size of the table's live chain (file metadata
    * only — no jobs). Sizes the NEXT compaction's bucket count. */
  def chainBytes(workdir: String, i: Int, name: String): Long =
    resolve(workdir, i, name).map { p =>
      val fs = new java.io.File(p).listFiles()
      if (fs == null) 0L else fs.filter(_.isFile).map(_.length).sum
    }.sum

  /** The chain's bucket count as of snapshot i: recorded in the nearest
    * full marker at or below i. */
  def bucketsOf(workdir: String, i: Int, name: String): Int =
    (i to 0 by -1).iterator
      .map(k => fullMarker(s"${Crawl.snapDir(workdir, k)}/$name"))
      .find(_.exists())
      .map(m => new String(java.nio.file.Files.readAllBytes(m.toPath)).trim.toInt)
      .getOrElse(sys.error(s"state table $name has no full write at or below snapshot $i"))

  /** Full write (init / compaction): all buckets, chain reset. An empty
    * table writes no bucket dirs — just the marker — and loads as
    * empty. */
  def writeFull(df: DataFrame, keys: Seq[Column], buckets: Int, dir: String): Unit = {
    bucketed(df, keys, buckets)
      .write.partitionBy("bucket").mode("overwrite").parquet(dir)
    new java.io.File(dir).mkdirs() // empty table → no task output dirs
    java.nio.file.Files.write(fullMarker(dir).toPath,
      buckets.toString.getBytes("UTF-8"))
  }

  /** Delta write: only the buckets present in `merged` (= the touched
    * buckets, already carrying their complete merged contents) appear
    * in this snapshot. `dynamic = true` uses dynamic partition
    * overwrite — ONLY the written bucket dirs are replaced, leaving
    * sibling buckets (and a `_GRAFT_FULL` marker) in an EXISTING dir
    * intact; used when appending to a snapshot that already has a
    * version of this table (the injection path). */
  def writeDelta(merged: DataFrame, keys: Seq[Column], buckets: Int, dir: String,
                 dynamic: Boolean = false): Unit = {
    val w = bucketed(merged, keys, buckets).write.partitionBy("bucket")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .mode("overwrite").parquet(dir)
  }

  /** Clustering the write by bucket id gives ONE file per bucket dir
    * (instead of one per task × bucket): the loader's cost is paths ×
    * files, and a chain of N delta snapshots × B buckets × T tasks of
    * tiny files was the measured fixed cost of the micro loop. A bucket
    * is one task's worth of rows at any scale — that is what B sizes. */
  private def bucketed(df: DataFrame, keys: Seq[Column], buckets: Int): DataFrame = {
    val b = df.withColumn("bucket", bucketCol(keys, buckets))
    b.repartition(col("bucket"))
  }

  private def bucketDirs(dir: java.io.File): Array[java.io.File] = {
    val fs = dir.listFiles()
    if (fs == null) Array.empty
    else fs.filter(f => f.isDirectory && f.getName.startsWith("bucket="))
  }

  private def bucketId(f: java.io.File): Int = f.getName.stripPrefix("bucket=").toInt

  /** Per-bucket newest leaf dirs across the chain: newest-first,
    * stopping at the nearest full write. An empty delta has no bucket
    * dirs and simply contributes nothing. */
  private def resolve(workdir: String, i: Int, name: String): Seq[String] = {
    val seen = scala.collection.mutable.Set[Int]()
    val paths = scala.collection.mutable.ListBuffer[String]()
    var k = i
    var done = false
    while (k >= 0 && !done) {
      val dir = new java.io.File(s"${Crawl.snapDir(workdir, k)}/$name")
      if (dir.exists) {
        bucketDirs(dir).foreach { bd =>
          val id = bucketId(bd)
          if (!seen(id)) {
            seen += id
            paths += bd.getPath
          }
        }
        done = fullMarker(dir.getPath).exists()
      }
      k -= 1
    }
    paths.toSeq
  }

  /** Load the table as of snapshot i; `empty` supplies the schema. The
    * explicit schema keeps the file listing but drops the footer-reading
    * schema-inference job per load — the chains produce many small leaf
    * dirs by design. */
  def load(spark: SparkSession, workdir: String, i: Int, name: String,
           empty: DataFrame): DataFrame = {
    val paths = resolve(workdir, i, name)
    if (paths.isEmpty) empty
    else spark.read.schema(empty.schema).parquet(paths: _*)
  }

  /** Touched-bucket ids for SEVERAL tables in ONE Spark job (one
    * one-task job per keyed table costs more in job scheduling than the
    * work itself at micro scale). The fused query is deliberately
    * SHUFFLE-FREE: each branch maps its — cached — delta to
    * (table, bucket) pairs deduped per partition (a partition-local
    * Set, bounded by min(rows, buckets)), the union collects once,
    * and the driver groups. No exchange means AQE cannot split the
    * query into per-stage jobs either — exactly one job regardless of
    * table count. A single-bucket table skips the scan: its one bucket
    * is the touched one, and the merge rewrites the whole — tiny —
    * table, which is what a 1-bucket table means. */
  def touchedBucketsMulti(
      parts: Seq[(DataFrame, DataFrame => Seq[Column], Int)]): Seq[Set[Int]] = {
    import org.apache.spark.sql.Encoders
    val need = parts.zipWithIndex.filter { case ((_, _, b), _) => b > 1 }
    if (need.isEmpty) return parts.map(_ => Set(0))
    val tagged = need.map { case ((df, keys, b), idx) =>
      df.select(lit(idx).as("_1"), bucketCol(keys(df), b).as("_2"))
        .as[(Int, Int)](Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt))
        .mapPartitions(it => it.toSet.iterator)(
          Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt))
    }.reduce(_ union _)
    val byTable = tagged.collect().groupBy(_._1)
    parts.zipWithIndex.map { case ((_, _, b), idx) =>
      if (b == 1) Set(0)
      else byTable.get(idx).map(_.map(_._2).toSet).getOrElse(Set.empty[Int])
    }
  }
}
