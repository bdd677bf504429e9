package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package shim: bridges Column ↔ Expression for graft's native
  * expressions (the Spark 4 helpers live behind private[sql]). */
object GraftShim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Drain the async listener bus (private[spark]) — lets tests assert
    * on SparkListener-observed facts (e.g. job counts) without sleeps. */
  def waitListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** DataFrame from a logical plan (Dataset.ofRows is private[sql]) —
    * used to inject graft's custom logical operators (plans.WinnerDole). */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Lineage cut: a new DataFrame whose logical plan is a LogicalRDD
    * leaf over `df`'s physical RDD (lazy — only the plan's broadcasts
    * start here, as the RDD is prepared, and they run under df's
    * session conf, as inside an execution; the RDD reads df's cache
    * once df is persisted+materialized). Carried crawl state chains
    * generations of plans into one tree; Catalyst stringifies plans
    * eagerly when building InMemoryRelations, and an
    * exponentially-shared tree OOMs the driver on pure plan TEXT. Same
    * trick as Dataset.checkpoint's internals. */
  def cutLineage(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[_]]
    val session = cdf.sparkSession
    val rdd = org.apache.spark.sql.execution.SQLExecution.withSQLConfPropagated(session)(
      cdf.queryExecution.toRdd)
    classic.Dataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd, cdf, isStreaming = false))
  }

  /** Work below this many rows (URLs per crawl iteration, edges per
    * dedup graph) runs on the [[quietSession]]: AQE's levers —
    * skew-join splitting (≥256 MB partitions) and partition coalescing
    * — buy nothing below ~10^6 rows, while each of its query-stage
    * materializations is one more Spark job of pure fixed cost. */
  val QuietBatchRows: Long = 1000000L

  /** Rows one shuffle partition of a quiet query is sized for. */
  val RowsPerPartition: Long = 50000L

  private val FactoryMode = "spark.sql.codegen.factoryMode"

  /** The sibling of `spark` that runs work whose batch is below
    * [[QuietBatchRows]] and whose largest shuffle moves `rows` rows
    * (the batch itself, or a bigger table it joins or groups whole):
    * same SparkContext, shared state and cache, and
    * a copy of the parent's SQL conf, registered functions and planning
    * strategies (cloneSession is private[sql]). The sibling turns off
    * AQE, whole-stage codegen and expression codegen — every projection,
    * predicate and ordering is interpreted (Spark's
    * CodeGeneratorWithInterpretedFallback reads `factoryMode` outside
    * tests too), so a micro-batch compiles only what Spark generates
    * outside those switches (in-memory column accessors, typed-object
    * deserializers, row joiners) — and runs
    * clamp(ceil(rows / RowsPerPartition), 1, parent's value) shuffle
    * partitions, so small work is a few tasks per stage rather than the
    * parent's full count. The parent is untouched.
    * AQE, codegen and partition count change only execution: rows are
    * the same. */
  def quietSession(spark: SparkSession, rows: Long): SparkSession = {
    val parts = math.min(math.max(1L, (rows - 1) / RowsPerPartition + 1),
      spark.conf.get("spark.sql.shuffle.partitions").toLong)
    val q = spark.asInstanceOf[classic.SparkSession].cloneSession()
    q.conf.set("spark.sql.adaptive.enabled", "false")
    q.conf.set("spark.sql.codegen.wholeStage", "false")
    q.conf.set(FactoryMode, "NO_CODEGEN")
    q.conf.set("spark.sql.shuffle.partitions", parts.toString)
    q
  }

  /** Whether `spark` is a [[quietSession]]. */
  def isQuiet(spark: SparkSession): Boolean =
    spark.conf.get(FactoryMode, "FALLBACK") == "NO_CODEGEN"

  /** Janino compiles in this JVM so far (driver and, in local mode,
    * executors): Spark's CodegenMetrics compilation-time histogram count. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Re-bind a DataFrame's analyzed plan to another session (same
    * SparkContext/sharedState — caches still resolve), so a query can
    * execute under that session's SQLConf (e.g. a [[quietSession]]). */
  def onSession(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed)

  /** Formatted physical plan text (the `.explain("formatted")` output)
    * — used by tools.GenPlans to regenerate PLANS.md. */
  def explainFormatted(df: Dataset[_]): String =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Idempotently add a planning strategy to the session
    * (ExperimentalMethods lives on the classic session). */
  def registerStrategy(spark: SparkSession, s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val ex = spark.asInstanceOf[classic.SparkSession].experimental
    if (!ex.extraStrategies.contains(s)) ex.extraStrategies = ex.extraStrategies :+ s
  }
}
