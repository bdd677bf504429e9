package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.GraftShim

/** The quiet sibling session the crawl loop and dedup_clusters run small
  * batches on: same SparkContext and cache, the parent's runtime conf,
  * AQE and code generation off, shuffle partitions sized from the
  * batch — and the parent left as it was. */
class QuietSessionSpec extends AnyFunSuite {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val FactoryMode = "spark.sql.codegen.factoryMode"
  private val Partitions = "spark.sql.shuffle.partitions"
  private val TimeZone = "spark.sql.session.timeZone"

  /** A private parent, so the conf changes below stay out of other specs. */
  private def parent() = {
    val p = SparkTestSession.spark.newSession()
    p.conf.set(Aqe, "true")
    p.conf.set(Partitions, "7")
    p.conf.set(TimeZone, "Pacific/Chatham")
    p
  }

  test("quiet sibling shares context and cache, turns AQE and codegen off") {
    val p = parent()
    val before = p.conf.getAll
    val cached = p.range(100).toDF("id").persist()
    cached.count()
    try {
      val q = GraftShim.quietSession(p, 100)
      assert(q ne p)
      assert(q.sparkContext eq p.sparkContext)
      assert(q.conf.get(Aqe) == "false")
      assert(q.conf.get(WholeStage) == "false")
      assert(q.conf.get(FactoryMode) == "NO_CODEGEN")
      // the rest of the parent's runtime conf is copied
      assert(q.conf.get(TimeZone) == "Pacific/Chatham")
      assert(GraftShim.isQuiet(q) && !GraftShim.isQuiet(p))
      assert(p.conf.getAll == before, "the parent's conf must not change")
      // the parent's cached data serves the same plan run on the sibling
      val onQuiet = GraftShim.onSession(q, cached)
      assert(GraftShim.explainFormatted(onQuiet).contains("InMemoryTableScan"))
      // `[codegen id : n]` marks an operator inside a whole-stage codegen span
      val own = GraftShim.explainFormatted(q.range(10).filter("id > 3").selectExpr("id + 1"))
      assert(!own.contains("[codegen id"), own)
      assert(onQuiet.count() == 100)
      // a later change on the sibling does not leak back
      q.conf.set(Partitions, "3")
      assert(p.conf.getAll == before)
    } finally cached.unpersist()
  }

  test("quiet shuffle partitions are sized from the rows: 1 when small, capped at the parent's") {
    // the rule replaces the sibling's copy of the parent's partition count
    val p = parent()
    def parts(rows: Long): Int = GraftShim.quietSession(p, rows).conf.get(Partitions).toInt
    val per = GraftShim.RowsPerPartition
    assert(parts(0) == 1)
    assert(parts(192) == 1)
    assert(parts(per) == 1)
    assert(parts(per + 1) == 2)
    assert(parts(3 * per) == 3)
    assert(parts(GraftShim.QuietBatchRows) == 7, "capped at the parent's value")
    assert(parts(Long.MaxValue) == 7)
    assert(p.conf.get(Partitions) == "7")
    // a quiet aggregate really runs on the sized partition count
    val q = GraftShim.quietSession(p, 192)
    assert(q.range(192).groupBy((org.apache.spark.sql.functions.col("id") % 5).as("k")).count()
      .rdd.getNumPartitions == 1)
  }
}
