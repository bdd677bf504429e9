package graft.frontier

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one store for every chained snapshot table (`Crawl.Tables`) —
  * the analogue of the reference's one `Rdb` engine behind spiderdb,
  * titledb, tagdb, … (Rdb.cpp addRecord / dumpTree; RdbMerge).
  *
  * Table `name` of snapshot i lives at `snap_i/<name>/`: either a FULL
  * write, marked `_GRAFT_FULL` (init, compaction, and the per-IP table
  * every snapshot), or a delta. A load walks the chain newest-first from
  * snapshot i to the nearest full write ([[parts]], the one walk), and
  * reads it one of two ways:
  *
  *  - [[Append]]: every part counts, unioned oldest first. Rows
  *    appended into a full write join it; the walk still stops there.
  *  - [[Keyed]]: rows are hash-bucketed on the key (uniform buckets
  *    regardless of host skew) under `partitionBy("bucket")`. A delta
  *    holds only the buckets an iteration touched, with their complete
  *    merged contents, and a load takes the NEWEST version of each
  *    bucket. `Crawl.rollForward` merges the touched buckets' prior rows
  *    with the delta and writes just those buckets forward: O(delta +
  *    rows-in-touched-buckets) write I/O instead of O(state) (VERDICT r3
  *    "What's wrong" #2).
  *
  * Compaction writes a full version of every table beside the live one
  * (`<name>_tmp`) and [[swap]]s it in, which resets the chain. */
object StateTable {

  /** How a table's chain parts make up the table. */
  sealed trait Kind
  /** Every part of the chain counts. */
  case object Append extends Kind
  /** The newest version of each bucket of `key` wins. */
  final case class Keyed(key: String) extends Kind

  private val FullMarker = "_GRAFT_FULL"

  /** Does the chain's walk end at this part? */
  private[frontier] def isFull(dir: File): Boolean = new File(dir, FullMarker).exists()

  /** Uniform bucket id for a key column. uh48/site hashes are already
    * tabulation-hashed; xxhash64 re-mixes arbitrary key tuples. */
  def bucketCol(keys: Seq[Column], buckets: Int): Column =
    pmod(xxhash64(keys: _*), lit(buckets)).cast("int")

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

  /** The walk: table `name`'s parts as of snapshot i, newest first,
    * back to and including the nearest full write. A snapshot with no
    * directory for the table adds nothing. */
  private def parts(workdir: String, i: Int, name: String): List[File] = {
    val dirs = (i to 0 by -1).iterator
      .map(k => new File(Crawl.snapDir(workdir, k), name)).filter(_.isDirectory)
    val out = List.newBuilder[File]
    var done = false
    while (!done && dirs.hasNext) {
      val d = dirs.next()
      out += d
      done = isFull(d)
    }
    out.result()
  }

  /** The directories a load of the table reads: for an append table its
    * parts, oldest first; for a keyed table the newest version of each
    * bucket (an empty delta has no bucket dirs and adds nothing). */
  private def leaves(workdir: String, i: Int, name: String, kind: Kind): Seq[File] = kind match {
    case Append => parts(workdir, i, name).reverse
    case Keyed(_) =>
      val seen = scala.collection.mutable.Set[String]()
      parts(workdir, i, name).flatMap { d =>
        Option(d.listFiles()).getOrElse(Array.empty[File])
          .filter(f => f.isDirectory && f.getName.startsWith("bucket=") && seen.add(f.getName))
      }
  }

  private def files(dirs: Seq[File]): Iterator[File] =
    dirs.iterator.flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File])).filter(_.isFile)

  /** Load the table as of snapshot i. An append table is the union of
    * its parts' scans; the explicit schema drops the footer-reading
    * schema-inference job per part — chains are many small dirs by
    * design. */
  def load(spark: SparkSession, workdir: String, i: Int, name: String, kind: Kind,
           schema: StructType): DataFrame = {
    val dirs = leaves(workdir, i, name, kind)
    val reader = spark.read.schema(schema)
    if (dirs.isEmpty) empty(spark, schema)
    else kind match {
      case Append => dirs.map(d => reader.parquet(d.getPath)).reduce(_ unionByName _)
      case Keyed(_) => reader.parquet(dirs.map(_.getPath): _*)
    }
  }

  /** A table with no rows. */
  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)

  /** Driver-side on-disk size of the table's live chain (file metadata
    * only — no jobs). Sizes the NEXT compaction's bucket count. */
  def chainBytes(workdir: String, i: Int, name: String, kind: Kind): Long =
    files(leaves(workdir, i, name, kind)).map(_.length).sum

  /** Rows in the table's live chain, summed from the parquet footers:
    * driver-side file reads, no job. */
  def chainRows(spark: SparkSession, workdir: String, i: Int, name: String, kind: Kind): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    files(leaves(workdir, i, name, kind)).filter(_.getName.endsWith(".parquet")).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toURI), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** A keyed chain's bucket count as of snapshot i: recorded in the
    * marker of the full write that ends its walk. */
  def bucketsOf(workdir: String, i: Int, name: String): Int =
    parts(workdir, i, name).lastOption.filter(isFull)
      .map(d => new String(java.nio.file.Files.readAllBytes(new File(d, FullMarker).toPath)).trim.toInt)
      .getOrElse(sys.error(s"state table $name has no full write at or below snapshot $i"))

  /** Full write: every row of the table, and the marker that ends the
    * chain's walk here (a keyed table's marker records its bucket
    * count). An empty keyed table writes no bucket dirs — just the
    * marker — and loads as empty. */
  def writeFull(df: DataFrame, kind: Kind, buckets: Int, dir: String): Unit = {
    val marker = kind match {
      case Append =>
        df.write.mode("overwrite").parquet(dir)
        ""
      case Keyed(key) =>
        bucketed(df, key, buckets).write.partitionBy("bucket").mode("overwrite").parquet(dir)
        buckets.toString
    }
    new File(dir).mkdirs() // empty keyed table → no task output dirs
    java.nio.file.Files.write(new File(dir, FullMarker).toPath, marker.getBytes("UTF-8"))
  }

  /** Append part: rows added to the chain at this snapshot. Appended to
    * a directory that already holds a part, the files join it. */
  def append(df: DataFrame, dir: String): Unit = df.write.mode("append").parquet(dir)

  /** Keyed delta write: only the buckets present in `merged` (= the
    * touched buckets, already carrying their complete merged contents)
    * appear in this snapshot. `dynamic = true` uses dynamic partition
    * overwrite — ONLY the written bucket dirs are replaced, leaving
    * sibling buckets (and a `_GRAFT_FULL` marker) in an EXISTING dir
    * intact; used when appending to a snapshot that already has a
    * version of this table (the injection path). */
  def writeDelta(merged: DataFrame, key: String, buckets: Int, dir: String,
                 dynamic: Boolean = false): Unit = {
    val w = bucketed(merged, key, buckets).write.partitionBy("bucket")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .mode("overwrite").parquet(dir)
  }

  /** Put the full write at `<name>_tmp` in snapshot dir `d` in place of
    * the table's part there. */
  def swap(d: String, name: String): Unit = {
    val live = java.nio.file.Paths.get(d, name)
    graft.Dirs.deleteTree(live)
    java.nio.file.Files.move(java.nio.file.Paths.get(d, s"${name}_tmp"), live)
  }

  /** Clustering the write by bucket id gives ONE file per bucket dir
    * (instead of one per task × bucket): the loader's cost is paths ×
    * files, and a chain of N delta snapshots × B buckets × T tasks of
    * tiny files was the measured fixed cost of the micro loop. A bucket
    * is one task's worth of rows at any scale — that is what B sizes. */
  private def bucketed(df: DataFrame, key: String, buckets: Int): DataFrame =
    df.withColumn("bucket", bucketCol(Seq(col(key)), buckets)).repartition(col("bucket"))

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
