package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.core.{GbHash, GbUrl, GbXml}

class ExpressionsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("native expressions agree with the library functions") {
    import spark.implicits._
    val urls = Seq(
      "http://www.example.com/a/../b.html",
      "HTTPS://News.Site.co.uk:443/x?a=1&&b=2",
      "http://1.2.3.4/ip").toDF("raw")
    val out = urls
      .withColumn("canon", GraftFunctions.canonicalizeUrl($"raw"))
      .withColumn("uh48", GraftFunctions.uh48($"canon"))
      .withColumn("host", GraftFunctions.urlHost($"raw"))
      .withColumn("dom", GraftFunctions.urlDomain($"raw"))
      .withColumn("h32", GraftFunctions.gbHash32($"host"))
      .collect()
    out.foreach { r =>
      val g = GbUrl.parse(r.getAs[String]("raw"))
      assert(r.getAs[String]("canon") == g.url)
      assert(r.getAs[Long]("uh48") == GbHash.uh48(g.url))
      assert(r.getAs[String]("host") == g.host)
      assert(r.getAs[String]("dom") == g.domain)
      assert(r.getAs[Int]("h32") == GbHash.hash32(g.host))
    }
  }

  test("extract_text expression over binary html") {
    import spark.implicits._
    val html = "<p>fish &amp; chips</p><script>no</script>"
    val df = Seq(html).toDF("h").withColumn("b", col("h").cast("binary"))
      .withColumn("text", GraftFunctions.extractText(col("b")))
    assert(df.select("text").as[String].head() == GbXml.extractText(html))
  }

  test("SQL registration: uh48/canonicalize_url usable from spark.sql") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT uh48(canonicalize_url('WWW.Example.COM/x')) AS h, url_domain('http://a.b.co.uk/') AS d").head()
    assert(r.getLong(0) == GbHash.uh48("http://www.example.com/x"))
    assert(r.getString(1) == "b.co.uk")
  }

  test("expressions stay inside whole-stage codegen") {
    val df = spark.range(8)
      .withColumn("u", concat(lit("http://a.com/"), col("id").cast("string")))
      .withColumn("h", GraftFunctions.uh48(col("u")))
    val plan = df.queryExecution.executedPlan.toString()
    // `*(n)` marks a WholeStageCodegen stage; uh48 must sit inside one
    assert(plan.contains("*(1) Project") && plan.contains("uh48"), plan)
    val rows = df.select("u", "h").collect()
    rows.foreach(r => assert(r.getLong(1) == GbHash.uh48(r.getString(0))))
  }

  test("vdot and plane_sig reject non-float arrays at analysis") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(3.0f, 4.0f))).toDF("d", "f")
    assert(df.select(GraftFunctions.vdot(col("f"), col("f"))).as[Double].head() == 25.0)
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(GraftFunctions.vdot(col("d"), col("d")))
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(GraftFunctions.vdot(col("f"), col("d")))
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(GraftFunctions.planeSig(col("d"), 8, 2))
    }
  }

  test("null propagation") {
    import spark.implicits._
    val df = Seq[(String)](null.asInstanceOf[String]).toDF("u")
      .withColumn("h", GraftFunctions.uh48(col("u")))
    assert(df.select("h").head().isNullAt(0))
  }
}
