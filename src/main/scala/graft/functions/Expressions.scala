package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{GbHash, GbUrl, GbXml}

/** JVM entry points the generated code calls (whole-stage codegen emits
  * direct static calls — no boxing, no UDF SerDe). */
object Native {
  def uh48(s: UTF8String): Long = GbHash.uh48(s.toString)
  def hash32(s: UTF8String): Int = GbHash.hash32(s.toString)
  def hash64b(s: UTF8String): Long = GbHash.hash64b(s.toString)
  def canonicalizeUrl(s: UTF8String): UTF8String = UTF8String.fromString(GbUrl.parse(s.toString).url)
  def hostOf(s: UTF8String): UTF8String = UTF8String.fromString(GbUrl.parse(s.toString).host)
  def domainOf(s: UTF8String): UTF8String = UTF8String.fromString(GbUrl.parse(s.toString).domain)
  def pathOf(s: UTF8String): UTF8String = UTF8String.fromString(GbUrl.parse(s.toString).path)
  def firstIpOf(s: UTF8String): Int = { val u = GbUrl.parse(s.toString); u.fakeFirstIp }
  def extractText(html: Array[Byte]): UTF8String = UTF8String.fromBytes(GbXml.extractTextBytes(html))
  /** hash32 of the url's tagdb key (SiteGetter site; Tagdb.cpp:2597-2623). */
  def siteKeyHash32(s: UTF8String): Int = graft.core.SiteGetter.siteHash32(s.toString)
  // r6 textops kernels (guide §4.1: the per-row dedup/ANN functions ran
  // as scalar ScalaUDFs — every row paid the catalyst↔Scala converter
  // round-trip; these static entry points let whole-stage codegen call
  // the same loops directly)
  def simhash64(s: UTF8String): Long = graft.textops.TextOps.simhash64(s.toString)
  def fingerprint64(s: UTF8String): Long = graft.textops.TextOps.fingerprint(s.toString)
  def langId(s: UTF8String): UTF8String = UTF8String.fromString(graft.textops.TextOps.langIdOf(s.toString))
  def minhashSig(s: UTF8String, n: Int): ArrayData =
    new GenericArrayData(graft.textops.TextOps.minhashSigOf(s.toString, n))
  def planeSig(v: ArrayData, nPlanes: Int, dim: Int): Int =
    graft.textops.TextOps.planeSigOf(v, nPlanes, dim)
  /** Float-vector dot product in double precision, summed in index
    * order — bit-identical to the former
    * `aggregate(zip_with(a, b, (x, y) -> double(x)*double(y)), 0.0, +)`
    * on equal-length inputs (the embeddings schema is fixed-dim). */
  def vdot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }
}

/** Native Catalyst expressions for the engine's scalar kernel functions
  * (SURVEY §4 "Custom needed"): codegen-friendly, null-safe, registered
  * as SQL functions (the one-argument ones in `GraftFunctions.fns`) via
  * [[GraftExtensions]] (spark.sql.extensions) or `registerAll`. */
// NOTE: no constructor parameters — Java deserialization requires every
// non-serializable superclass to expose a no-arg constructor, and these
// expressions ride inside task-serialized join-key Seqs (an abstract
// parent with ctor params breaks with "no valid constructor").
abstract class GraftUnary extends UnaryExpression {
  protected def fnName: String
  protected def javaCall: String
  protected def dt: DataType
  override def dataType: DataType = dt
  override def prettyName: String = fnName
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.$javaCall($c)")
}

case class Uh48Expr(child: Expression) extends GraftUnary {
  protected def fnName = "uh48"; protected def javaCall = "uh48"; protected def dt = LongType
  override protected def nullSafeEval(in: Any): Any = Native.uh48(in.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
case class Hash64bExpr(child: Expression) extends GraftUnary {
  protected def fnName = "gb_hash64b"; protected def javaCall = "hash64b"; protected def dt = LongType
  override protected def nullSafeEval(in: Any): Any = Native.hash64b(in.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
case class Hash32Expr(child: Expression) extends GraftUnary {
  protected def fnName = "gb_hash32"; protected def javaCall = "hash32"; protected def dt = IntegerType
  override protected def nullSafeEval(in: Any): Any = Native.hash32(in.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
case class CanonicalizeUrlExpr(child: Expression) extends GraftUnary {
  protected def fnName = "canonicalize_url"; protected def javaCall = "canonicalizeUrl"; protected def dt = StringType
  override protected def nullSafeEval(in: Any): Any = Native.canonicalizeUrl(in.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
case class UrlHostExpr(child: Expression) extends GraftUnary {
  protected def fnName = "url_host"; protected def javaCall = "hostOf"; protected def dt = StringType
  override protected def nullSafeEval(in: Any): Any = Native.hostOf(in.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
case class UrlDomainExpr(child: Expression) extends GraftUnary {
  protected def fnName = "url_domain"; protected def javaCall = "domainOf"; protected def dt = StringType
  override protected def nullSafeEval(in: Any): Any = Native.domainOf(in.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
case class UrlPathExpr(child: Expression) extends GraftUnary {
  protected def fnName = "url_path"; protected def javaCall = "pathOf"; protected def dt = StringType
  override protected def nullSafeEval(in: Any): Any = Native.pathOf(in.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
case class FakeFirstIpExpr(child: Expression) extends GraftUnary {
  protected def fnName = "fake_first_ip"; protected def javaCall = "firstIpOf"; protected def dt = IntegerType
  override protected def nullSafeEval(in: Any): Any = Native.firstIpOf(in.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
case class SiteKeyHash32Expr(child: Expression) extends GraftUnary {
  protected def fnName = "site_key_hash32"; protected def javaCall = "siteKeyHash32"; protected def dt = IntegerType
  override protected def nullSafeEval(in: Any): Any = Native.siteKeyHash32(in.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
case class Simhash64Expr(child: Expression) extends GraftUnary {
  protected def fnName = "simhash64"; protected def javaCall = "simhash64"; protected def dt = LongType
  override protected def nullSafeEval(in: Any): Any = Native.simhash64(in.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
case class Fingerprint64Expr(child: Expression) extends GraftUnary {
  protected def fnName = "fingerprint64"; protected def javaCall = "fingerprint64"; protected def dt = LongType
  override protected def nullSafeEval(in: Any): Any = Native.fingerprint64(in.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
case class LangIdExpr(child: Expression) extends GraftUnary {
  protected def fnName = "lang_id"; protected def javaCall = "langId"; protected def dt = StringType
  override protected def nullSafeEval(in: Any): Any = Native.langId(in.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
/** MinHash signature over word-2-gram shingles (n hashes). The hash
  * count is a plan-time constant baked into the generated call — the
  * expression stays fully codegen'd despite the extra parameter. */
case class MinhashSigExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(in: Any): Any = Native.minhashSig(in.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.minhashSig($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
/** Sign-LSH hyperplane signature of a float embedding. Planes are a
  * pure function of (nPlanes, dim) (TextOps.planesFor: deterministic
  * SplitMix64 Box-Muller), so each JVM derives them locally from the
  * baked-in constants — no broadcast, no closure capture. The input must
  * be array<float> (checked at analysis: the kernel reads elements with
  * getFloat, which would silently reinterpret any other element type).
  * Elements are assumed non-null — embeddings are dense vectors — even
  * though parquet-read arrays carry containsNull = true. */
case class PlaneSigExpr(child: Expression, nPlanes: Int, dim: Int) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "plane_sig"
  override protected def nullSafeEval(in: Any): Any =
    Native.planeSig(in.asInstanceOf[ArrayData], nPlanes, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Native.planeSig($c, $nPlanes, $dim)")
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
/** Dot product of two float vectors in double precision (see
  * Native.vdot for the equivalence argument vs the aggregate/zip_with
  * form it replaces). Both inputs must be array<float> (checked at
  * analysis, as for [[PlaneSigExpr]]); elements are assumed non-null. */
case class VDotExpr(left: Expression, right: Expression) extends BinaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vdot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Native.vdot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Native.vdot($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
case class ExtractTextExpr(child: Expression) extends GraftUnary {
  protected def fnName = "extract_text"; protected def javaCall = "extractText"; protected def dt = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(s"extract_text needs binary, got ${child.dataType}")
  override protected def nullSafeEval(in: Any): Any = Native.extractText(in.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object GraftFunctions {
  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.GraftShim.{toColumn => column, toExpression => expression}

  def uh48(c: Column): Column = column(Uh48Expr(expression(c)))
  def gbHash32(c: Column): Column = column(Hash32Expr(expression(c)))
  def gbHash64b(c: Column): Column = column(Hash64bExpr(expression(c)))
  def canonicalizeUrl(c: Column): Column = column(CanonicalizeUrlExpr(expression(c)))
  def urlHost(c: Column): Column = column(UrlHostExpr(expression(c)))
  def urlDomain(c: Column): Column = column(UrlDomainExpr(expression(c)))
  def urlPath(c: Column): Column = column(UrlPathExpr(expression(c)))
  def fakeFirstIp(c: Column): Column = column(FakeFirstIpExpr(expression(c)))
  def extractText(c: Column): Column = column(ExtractTextExpr(expression(c)))
  def siteKeyHash32(c: Column): Column = column(SiteKeyHash32Expr(expression(c)))
  def simhash64(c: Column): Column = column(Simhash64Expr(expression(c)))
  def fingerprint64(c: Column): Column = column(Fingerprint64Expr(expression(c)))
  def langId(c: Column): Column = column(LangIdExpr(expression(c)))
  def minhashSig(c: Column, n: Int): Column = column(MinhashSigExpr(expression(c), n))
  def planeSig(c: Column, nPlanes: Int, dim: Int): Column = column(PlaneSigExpr(expression(c), nPlanes, dim))
  def vdot(a: Column, b: Column): Column = column(VDotExpr(expression(a), expression(b)))

  /** The one list of graft's one-argument SQL functions, read by
    * [[registerAll]] and [[GraftExtensions]]. */
  private[graft] val fns: Seq[(String, Expression => Expression)] = Seq(
    "uh48" -> (Uh48Expr(_)),
    "gb_hash32" -> (Hash32Expr(_)),
    "gb_hash64b" -> (Hash64bExpr(_)),
    "canonicalize_url" -> (CanonicalizeUrlExpr(_)),
    "url_host" -> (UrlHostExpr(_)),
    "url_domain" -> (UrlDomainExpr(_)),
    "url_path" -> (UrlPathExpr(_)),
    "fake_first_ip" -> (FakeFirstIpExpr(_)),
    "extract_text" -> (ExtractTextExpr(_)),
    "site_key_hash32" -> (SiteKeyHash32Expr(_)))

  private[functions] def registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    fns.map { case (name, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name),
        (children: Seq[Expression]) => builder(children.head))
    }

  /** Register as SQL functions on an existing session. */
  def registerAll(spark: SparkSession): Unit = registrations.foreach { case (id, info, builder) =>
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.registrations.foreach(ext.injectFunction)
}
