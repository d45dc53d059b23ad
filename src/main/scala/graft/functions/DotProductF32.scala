package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two `array<float>` columns
  * as double (each element widened to double before multiplying, matching
  * the `zip_with`/`aggregate` formulation bit-for-bit).
  *
  * Why a custom Expression (SURVEY.md §7.3): the similarity tier's hot
  * inner loop is a 64-element fold per candidate pair. The higher-order
  * `aggregate(zip_with(...))` builds an intermediate array and evaluates
  * a lambda per element; this expression compiles to a tight primitive
  * `for` loop inside whole-stage codegen — no allocation, no lambda
  * dispatch — with an interpreted `nullSafeEval` fallback. It is used
  * where exactness permits plain double arithmetic (pre-screens, norms
  * feeding monotone thresholds); the decimal-exact path remains the
  * oracle-determinism tool.
  *
  * Assumes non-null array elements (embedding vectors). Mismatched
  * lengths dot the common prefix.
  */
case class DotProductF32(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires two array<float> arguments, got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration: `GraftExtensions` for `spark.sql.extensions`-configured
  * sessions, `GraftFunctions.register` for programmatic use. After
  * either, the function is callable as `graft_dot(a, b)` from SQL or via
  * `call_function("graft_dot", ...)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.dotProductDescriptor)
    ext.injectFunction(GraftFunctions.decDotDescriptor)
    ext.injectFunction(GraftFunctions.decDist2Descriptor)
    ext.injectFunction(GraftFunctions.rollingHashDescriptor)
    ext.injectFunction(GraftFunctions.cmsEstimateDescriptor)
    ext.injectFunction(GraftFunctions.bloomContainsDescriptor)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
    // persistent-view resolution (r12b): Spark 4.1 ships the V2
    // ViewCatalog interface but no analyzer wiring — this rule is it
    ext.injectResolutionRule(s => new graft.plans.ResolveGraftViews(s))
    // transparent aggregate rewrite onto FRESH covering catalog MVs
    // (r13) — runs in the operator-optimization batch, where graft
    // relations are still DataSourceV2Relation (pre scan pushdown)
    ext.injectOptimizerRule(s => new graft.plans.CatalogMvRewrite(s))
    // map-key predicate pushdown (r13): m['k'] filter conjuncts over
    // graft relations rewrite to the pushable graft_map_get function,
    // so the per-key file statistics prune from the very predicate
    ext.injectOptimizerRule(s => new graft.plans.MapKeyPushdown(s))
    // view DDL SQL surface (r13): parsed CREATE/DROP VIEW + SHOW VIEWS
    // on a graft catalog run the catalog's view methods; every other
    // plan passes through untouched
    ext.injectParser((s, delegate) => new graft.plans.GraftViewDdlParser(s, delegate))
  }
}

object GraftFunctions {
  private[functions] val dotProductDescriptor
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProductF32].getName, "graft_dot"),
    (children: Seq[Expression]) => DotProductF32(children.head, children(1)))

  private[functions] val decDotDescriptor
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dec_dot"),
    new ExpressionInfo(classOf[DecVecFold].getName, "graft_dec_dot"),
    (children: Seq[Expression]) => DecVecFold(children.head, children(1), squaredDiff = false))

  private[functions] val decDist2Descriptor
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dec_dist2"),
    new ExpressionInfo(classOf[DecVecFold].getName, "graft_dec_dist2"),
    (children: Seq[Expression]) => DecVecFold(children.head, children(1), squaredDiff = true))

  private[functions] val rollingHashDescriptor
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_rolling_hashes"),
    new ExpressionInfo(classOf[SubstrRollingHash].getName, "graft_rolling_hashes"),
    (children: Seq[Expression]) => SubstrRollingHash(children.head,
      children(1).eval().asInstanceOf[Number].intValue))

  // sketch probes: the second argument (the serialized sketch) is a
  // foldable binary literal evaluated ONCE at resolution — the same
  // builder-time-argument pattern as graft_rolling_hashes' length
  private[functions] val cmsEstimateDescriptor
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cms_estimate"),
    new ExpressionInfo(classOf[CmsEstimate].getName, "graft_cms_estimate"),
    (children: Seq[Expression]) => CmsEstimate(children.head,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        children(1).eval().asInstanceOf[Array[Byte]])))

  private[functions] val bloomContainsDescriptor
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bloom_contains"),
    new ExpressionInfo(classOf[BloomContains].getName, "graft_bloom_contains"),
    (children: Seq[Expression]) => BloomContains(children.head,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        children(1).eval().asInstanceOf[Array[Byte]])))

  /** Idempotent programmatic registration on an existing session. */
  def register(spark: SparkSession): Unit = {
    Seq(dotProductDescriptor, decDotDescriptor, decDist2Descriptor,
        rollingHashDescriptor,
        cmsEstimateDescriptor, bloomContainsDescriptor).foreach { case (id, info, builder) =>
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry.registerFunction(id, info, builder)
    }
  }
}
