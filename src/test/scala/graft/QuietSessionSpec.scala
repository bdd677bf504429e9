package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.GraftShim

/** The AQE-off sibling session the crawl loop and dedup_clusters run
  * small batches on: same SparkContext and cache, the parent's runtime
  * conf, only AQE flipped — and the parent left as it was. */
class QuietSessionSpec extends AnyFunSuite {

  private val Aqe = "spark.sql.adaptive.enabled"

  test("quiet sibling shares context and cache, copies conf, turns only its own AQE off") {
    // a private parent, so the conf changes below stay out of other specs
    val parent = SparkTestSession.spark.newSession()
    parent.conf.set(Aqe, "true")
    parent.conf.set("spark.sql.shuffle.partitions", "7")
    val cached = parent.range(100).toDF("id").persist()
    cached.count()
    try {
      val q = GraftShim.quietSession(parent)
      assert(q ne parent)
      assert(q.sparkContext eq parent.sparkContext)
      assert(q.conf.get(Aqe) == "false")
      assert(parent.conf.get(Aqe) == "true", "the parent's AQE setting must not change")
      assert(q.conf.get("spark.sql.shuffle.partitions") == "7")
      // the parent's cached data serves the same plan run on the sibling
      val onQuiet = GraftShim.onSession(q, cached)
      assert(GraftShim.explainFormatted(onQuiet).contains("InMemoryTableScan"))
      assert(onQuiet.count() == 100)
      // a later change on the sibling does not leak back
      q.conf.set("spark.sql.shuffle.partitions", "3")
      assert(parent.conf.get("spark.sql.shuffle.partitions") == "7")
    } finally cached.unpersist()
  }
}
