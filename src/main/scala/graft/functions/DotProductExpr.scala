package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for the sequential-fold dot product of
  * two numeric arrays — the one hot path where built-ins fall short:
  * `aggregate(zip_with(...))` evaluates its lambdas interpreted, per
  * element, per row, which dominates the n² similarity joins
  * (PLANS.md). This expression emits a tight codegen loop instead.
  *
  * Semantics are EXACTLY the fold the oracle mirrors: elements read
  * in index order, each cast to double, products accumulated
  * left-to-right into a 0.0-initialized double — so results stay
  * bit-identical to both the lambda form and DuckDB's list_reduce.
  *
  * Accepts float or double element types (embeddings are
  * array<float>; LSH hyperplane literals are array<double>).
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def get(arr: String, t: DataType, i: String) = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    val lt = elemType(left)
    val rt = elemType(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (${get(a, lt, i)}) * (${get(b, rt, i)});
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr {
  /** DataFrame-API entry point. */
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      DotProductExpr(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[DotProductExpr].getCanonicalName, "graft_dot")
}

/** The engine's native SQL function surface, shared by the
  * session-build path ([[GraftExtensions]]) and the runtime path
  * ([[graft.GraftCatalog]]). Int parameters of the text kernels and
  * sketch binaries must be foldable literals. */
object GraftFunctions {
  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      DotProductExpr.info,
      (c: Seq[Expression]) => DotProductExpr(c(0), c(1))),
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getCanonicalName, "graft_shingles"),
      (c: Seq[Expression]) => ShinglesExpr(c(0), intArg(c(1)))),
    (FunctionIdentifier("graft_lsh_bands"),
      new ExpressionInfo(classOf[LshBandsExpr].getCanonicalName, "graft_lsh_bands"),
      (c: Seq[Expression]) => LshBandsExpr(c(0), intArg(c(1)), intArg(c(2)))),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSigsExpr].getCanonicalName, "graft_minhash"),
      (c: Seq[Expression]) => MinHashSigsExpr(c(0), intArg(c(1)))),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashExpr].getCanonicalName, "graft_simhash"),
      (c: Seq[Expression]) => SimHashExpr(c(0), intArg(c(1)))),
    (FunctionIdentifier("graft_intersect_size"),
      new ExpressionInfo(classOf[IntersectSizeExpr].getCanonicalName,
        "graft_intersect_size"),
      (c: Seq[Expression]) => IntersectSizeExpr(c(0), c(1))),
    (FunctionIdentifier("graft_bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContainExpr].getCanonicalName,
        "graft_bloom_might_contain"),
      // (value, serialized_filter_binary) — the filter must be foldable
      (c: Seq[Expression]) => BloomMightContainExpr(c(0), c(1).eval().asInstanceOf[Array[Byte]])),
    (FunctionIdentifier("graft_cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimateExpr].getCanonicalName,
        "graft_cms_estimate"),
      (c: Seq[Expression]) => CmsEstimateExpr(c(0), c(1).eval().asInstanceOf[Array[Byte]])),
  )
}

/** Session extension registering the engine's native functions for
  * SQL use: `spark.sql.extensions=graft.functions.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`), then
  * `SELECT graft_dot(a.embedding, b.embedding) ...`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    graft.plans.TopK.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftFunctions.all.foreach(ext.injectFunction)
  }
}
