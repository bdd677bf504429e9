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

  test("every SQL function and kernel gives the same rows interpreted (quiet session) as generated") {
    import org.apache.spark.sql.{Column, GraftShim, Row}
    import org.apache.spark.sql.types._
    val texts = Seq(null, "",
      "http://www.example.com/a/../b.html",
      "HTTPS://News.Site.co.uk:443/x?a=1&&b=2",
      "http://1.2.3.4/ip",
      "http://bücher.de/straße?q=日本語",
      "<p>fish &amp; chips</p><script>no</script><a href=\"/x\">héllo wörld</a>",
      "the quick brown fox jumps over the lazy dog and the quick brown fox",
      "der Hund und die Katze sind nicht mit dem Auto gefahren",
      "Съешь же ещё этих мягких французских булок, да выпей чаю")
    val vecs = Seq[Seq[Float]](null, Seq.empty, Seq(1f, -2f, 0.5f), Seq(-0.25f), Seq(3f, 0f, -1f, 7f))
    val rows = texts.zipWithIndex.map { case (t, k) =>
      Row(k, t, Option(t).map(_.getBytes("UTF-8")).orNull, vecs(k % vecs.size))
    }
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("s", StringType),
      StructField("b", BinaryType), StructField("v", ArrayType(FloatType))))
    // an RDD source, not local rows: the optimizer would evaluate a
    // projection over local rows on the driver, on both sessions alike
    val input = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val kernels: Seq[(String, Column)] = GraftFunctions.fns.map { case (name, build) =>
      name -> GraftShim.toColumn(build(GraftShim.toExpression(col(if (name == "extract_text") "b" else "s"))))
    } ++ Seq(
      "simhash64" -> GraftFunctions.simhash64(col("s")),
      "fingerprint64" -> GraftFunctions.fingerprint64(col("s")),
      "lang_id" -> GraftFunctions.langId(col("s")),
      "minhash_sig" -> GraftFunctions.minhashSig(col("s"), 4),
      "plane_sig" -> GraftFunctions.planeSig(col("v"), 8, 3),
      "vdot" -> GraftFunctions.vdot(col("v"), col("v")))
    val df = input.select(col("id") +: kernels.map { case (n, c) => c.as(n) }: _*)
    def run(s: org.apache.spark.sql.SparkSession): (String, Long, Seq[Seq[Any]]) = {
      val d = GraftShim.onSession(s, df)
      val compiles0 = GraftShim.codegenCompiles
      val out = d.collect().sortBy(_.getInt(0)).map(_.toSeq).toSeq
      (GraftShim.explainFormatted(d), GraftShim.codegenCompiles - compiles0, out)
    }
    val (genPlan, _, generated) = run(spark)
    val (quietPlan, quietCompiles, interpreted) = run(GraftShim.quietSession(spark, rows.size))
    // `[codegen id : n]` marks an operator inside a whole-stage codegen span
    assert(genPlan.contains("[codegen id"), genPlan)
    assert(!quietPlan.contains("[codegen id"), quietPlan)
    assert(quietCompiles == 0, "the quiet session must not generate code")
    assert(generated.size == texts.size)
    kernels.map(_._1).zipWithIndex.foreach { case (name, c) =>
      assert(interpreted.map(_(c + 1)) == generated.map(_(c + 1)), name)
      assert(generated.exists(_(c + 1) != null), s"$name is null on every row")
    }
    assert(generated.head.tail.forall(_ == null), "null input, null output")
  }

  test("null propagation") {
    import spark.implicits._
    val df = Seq[(String)](null.asInstanceOf[String]).toDF("u")
      .withColumn("h", GraftFunctions.uh48(col("u")))
    assert(df.select("h").head().isNullAt(0))
  }
}
