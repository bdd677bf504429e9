package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BoundReference, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One candidate in the winner heap (a doledb candidate row). */
final class WinnerItem(
    val uh48: Long, val url: UTF8String, val priority: Int, val ufn: Int,
    val timeMs: Long, val hop: Int, val ipMax: Int, val wasIndexed: Boolean,
    val reqFlags: Long, val siteHash32: Int, val domHash32: Int)

/** Bounded winner heap: keeps the ≤ k best candidates in winner-tree key
  * order — priority DESC, hopCount ASC, spiderTimeMS ASC, uh48 ASC (the
  * reference's 192-bit winner-tree key: firstIp, 255-priority, hopCount,
  * spiderTimeMS, uh48 — Spider.cpp:3461-3497; insertion comparison
  * :4856-4893, whose overdue-time clamp reduces to exactly this order
  * because the scheduler only feeds it candidates already eligible, i.e.
  * spiderTimeMS <= now). Binary max-heap with the WORST item at the
  * root, so a full heap evicts in O(log k). */
final class WinnerHeap(val k: Int) {
  var arr: Array[WinnerItem] = new Array[WinnerItem](math.min(k, 16))
  var size: Int = 0

  /** true if a ranks strictly WORSE than b in winner order. */
  @inline def worse(a: WinnerItem, b: WinnerItem): Boolean = {
    if (a.priority != b.priority) a.priority < b.priority
    else if (a.hop != b.hop) a.hop > b.hop
    else if (a.timeMs != b.timeMs) a.timeMs > b.timeMs
    else a.uh48 > b.uh48
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worse(arr(i), arr(p))) { val t = arr(i); arr(i) = arr(p); arr(p) = t; i = p }
      else return
    }
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    while (true) {
      val l = 2 * i + 1
      val r = l + 1
      var w = i
      if (l < size && worse(arr(l), arr(w))) w = l
      if (r < size && worse(arr(r), arr(w))) w = r
      if (w == i) return
      val t = arr(i); arr(i) = arr(w); arr(w) = t; i = w
    }
  }

  /** Heap full and the worst kept item ranks strictly worse than the
    * candidate described by these key fields — i.e. the candidate WOULD
    * displace it. Allocation-free admission test for the hot path. */
  @inline def rootStrictlyWorse(priority: Int, hop: Int, timeMs: Long, uh48: Long): Boolean = {
    val a = arr(0)
    if (a.priority != priority) a.priority < priority
    else if (a.hop != hop) a.hop > hop
    else if (a.timeMs != timeMs) a.timeMs > timeMs
    else a.uh48 > uh48
  }

  def insert(it: WinnerItem): Unit = {
    if (size < k) {
      if (size == arr.length) {
        val n = new Array[WinnerItem](math.min(k, arr.length * 2))
        System.arraycopy(arr, 0, n, 0, size)
        arr = n
      }
      arr(size) = it
      size += 1
      siftUp(size - 1)
    } else if (worse(arr(0), it)) { // strictly better than the worst kept
      arr(0) = it
      siftDown(0)
    } // ties keep the incumbent ("all tied, keep it the same", :4887)
  }

  /** Reset for reuse across groups (WinnerDoleExec loops one heap over them). */
  def clear(): Unit = {
    java.util.Arrays.fill(arr.asInstanceOf[Array[AnyRef]], 0, size, null)
    size = 0
  }

  /** Items best-first (the dole order; seq_in_ip = index). */
  def sorted: Array[WinnerItem] = {
    val out = java.util.Arrays.copyOf(arr, size)
    java.util.Arrays.sort(out, (a: WinnerItem, b: WinnerItem) => if (worse(a, b)) 1 else if (worse(b, a)) -1 else 0)
    out
  }
}

/** A2 winner selection as a WHOLE-OPERATOR custom plan (the doledb
  * population step): per-firstIp bounded top-k in winner-tree order
  * (Spider.cpp:3461-3497 key order; MAX_WINNER_NODES cap Spider.cpp:60),
  * emitted directly as dole rows with `seq_in_ip` = winner rank and the
  * per-row ipMaxSpiders cap already applied (Spider.cpp:4xxx dole loop).
  *
  * Why a custom operator: a bounded-heap aggregate would be split by
  * Spark into partial+final, handing EVERY per-IP heap through
  * serialize/deserialize even when the child is already
  * hash-partitioned by first_ip. This exec instead requires
  * ClusteredDistribution(first_ip) + child sorted by first_ip (a
  * single-key RADIX sort) and runs one loop per first_ip group of the
  * sorted partition: the group's rows go through ONE reused bounded
  * heap (O(k) state, skew-safe: a 10^7-row IP never buffers, unlike
  * the window's per-IP full sort), then its winners are written
  * best-first straight to UnsafeRows. No object codec.
  *
  * Output is byte-identical to the `row_number()` window top-k with the
  * per-row ip_max cap (proven by WinnerDoleSpec's window cross-check and
  * the a2_winner_dole and crawl oracle queries in SparkEntry).
  *
  * Child must provide columns: first_ip:int, uh48:long, url:string,
  * priority:int, ufn:int, spider_time_ms:long, hop_count:int, ip_max:int,
  * was_indexed_in:boolean, flags:long, site_hash32:int, dom_hash32:int.
  * If it also has `eligible:boolean`, only eligible rows compete for the
  * dole (an IP with none emits no winner): the same rows as the window
  * over the input filtered on `eligible`, without a Filter that Catalyst
  * would push down into the scoring projections.
  */
case class WinnerDolePlan(k: Int, maxWinners: Int, emitWake: Boolean,
                          override val output: Seq[Attribute],
                          child: LogicalPlan) extends UnaryNode {
  // keep every child column alive (resolved by name at execution time;
  // default references=∅ would invite column pruning under this node)
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): WinnerDolePlan =
    copy(child = newChild)
}

object WinnerDole {
  /** FetchTask-shaped output schema. */
  private val outSchema: Seq[(String, DataType)] = Seq(
    "uh48" -> LongType, "first_ip" -> IntegerType, "url" -> StringType,
    "priority" -> IntegerType, "ufn" -> IntegerType,
    "spider_time_ms" -> LongType, "hop_count" -> IntegerType,
    "seq_in_ip" -> IntegerType, "was_indexed" -> BooleanType,
    "req_flags" -> LongType, "site_hash32" -> IntegerType,
    "dom_hash32" -> IntegerType)

  /** Wrap `scored` (must carry the 12 input columns, and may carry
    * `eligible`) in the dole operator; registers the planning strategy
    * on the session once. */
  def apply(scored: DataFrame, k: Int, maxWinners: Int): DataFrame =
    build(scored, k, maxWinners, emitWake = false)

  /** Wake-emitting variant (the waiting-tree maintenance pass, A3):
    * the child must carry `eligible:boolean` (row may be doled NOW) and
    * `next_lb:long` (a lower bound on the row's next spider
    * time that stays valid until the IP is touched). Besides the winner
    * rows, each scanned IP emits ONE sentinel row with seq_in_ip = -1
    * and spider_time_ms = min(next_lb) over ALL its rows — the per-IP
    * next-eligible entry the scheduler's due-IP prefilter consumes next
    * iteration (Spider.cpp:2503-2724 addToWaitingTree /
    * :3160 populateDoledbFromWaitingTree). */
  def wake(scored: DataFrame, k: Int, maxWinners: Int): DataFrame =
    build(scored, k, maxWinners, emitWake = true)

  private def build(scored: DataFrame, k: Int, maxWinners: Int, emitWake: Boolean): DataFrame = {
    val spark = scored.sparkSession
    register(spark)
    val out = outSchema.map { case (n, t) => AttributeReference(n, t, nullable = false)() }
    GraftShim.ofRows(spark, WinnerDolePlan(k, maxWinners, emitWake, out, GraftShim.logicalPlan(scored)))
  }

  def register(spark: SparkSession): Unit = synchronized {
    GraftShim.registerStrategy(spark, WinnerDoleStrategy)
  }
}

object WinnerDoleStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case WinnerDolePlan(k, maxWinners, emitWake, out, child) =>
      WinnerDoleExec(k, maxWinners, emitWake, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

case class WinnerDoleExec(k: Int, maxWinners: Int, emitWake: Boolean,
                          override val output: Seq[Attribute],
                          child: SparkPlan) extends UnaryExecNode {

  private def ipAttr: Attribute = child.output.find(_.name == "first_ip").get

  // one exchange total in the schedule plan: the frontier is already
  // repartitioned by first_ip for the reply join, which satisfies this
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(ipAttr)))
  // single-key int sort → radix-sortable SortExec
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(ipAttr, Ascending)))
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOut = child.output
    def idx(n: String): Int = childOut.indexWhere(_.name == n)
    val ipI = idx("first_ip"); val uhI = idx("uh48"); val urlI = idx("url")
    val priI = idx("priority"); val ufnI = idx("ufn")
    val timeI = idx("spider_time_ms"); val hopI = idx("hop_count")
    val ipMaxI = idx("ip_max"); val wasI = idx("was_indexed_in")
    val flagsI = idx("flags"); val siteI = idx("site_hash32"); val domI = idx("dom_hash32")
    val eligI = idx("eligible") // -1: every row competes
    val lbI = if (emitWake) idx("next_lb") else -1
    val kLoc = k; val maxW = maxWinners; val wake = emitWake
    val outTypes = output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }

    child.execute().mapPartitions({ iter =>
      val proj = UnsafeProjection.create(outTypes)
      val heap = new WinnerHeap(kLoc)
      val rows = iter.buffered

      // `proj` reuses its output row, so each row is projected as it
      // is pulled, never ahead of the one before it
      def emit(ip: Int, w: WinnerItem, seq: Int): InternalRow =
        proj(InternalRow(w.uh48, ip, w.url, w.priority, w.ufn, w.timeMs, w.hop, seq,
          w.wasIndexed, w.reqFlags, w.siteHash32, w.domHash32))

      // one first_ip group: every row through the heap, then the
      // winners best-first under each winner's OWN cap (`seq <
      // least(ip_max, maxWinners)`, the window's `rank` filter), then
      // in wake mode the IP's sentinel
      def group(): Iterator[InternalRow] = {
        val ip = rows.head.getInt(ipI)
        var minLb = Long.MaxValue
        while (rows.hasNext && rows.head.getInt(ipI) == ip) {
          val row = rows.next()
          // an ineligible row still counts toward the IP's wake time:
          // it is exactly what decides when the IP wakes up
          if (wake) minLb = math.min(minLb, row.getLong(lbI))
          if (eligI < 0 || row.getBoolean(eligI)) {
            val pri = row.getInt(priI)
            val hop = row.getInt(hopI)
            val t = row.getLong(timeI)
            val uh = row.getLong(uhI)
            if (heap.size < kLoc || heap.rootStrictlyWorse(pri, hop, t, uh))
              heap.insert(new WinnerItem(
                uh, row.getUTF8String(urlI).clone(), // the sorter reuses row buffers
                pri, row.getInt(ufnI), t, hop, row.getInt(ipMaxI),
                row.getBoolean(wasI), row.getLong(flagsI),
                row.getInt(siteI), row.getInt(domI)))
          }
        }
        val winners = heap.sorted
        heap.clear()
        val doled = winners.indices.iterator
          .filter(p => p < math.min(winners(p).ipMax, maxW))
          .map(p => emit(ip, winners(p), p))
        if (!wake) doled
        // the per-IP waiting-tree entry: seq_in_ip = -1, spider_time_ms
        // = min(next_lb) over the whole group (`++` builds it only once
        // the winners are consumed)
        else doled ++ Iterator.single(emit(ip, new WinnerItem(0L, UTF8String.EMPTY_UTF8,
          0, 0, minLb, 0, 0, false, 0L, 0, 0), -1))
      }

      new Iterator[Iterator[InternalRow]] {
        override def hasNext: Boolean = rows.hasNext
        override def next(): Iterator[InternalRow] = group()
      }.flatten
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): WinnerDoleExec =
    copy(child = newChild)
}
