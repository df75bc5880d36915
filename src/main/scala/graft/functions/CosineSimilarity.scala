package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity of two float vectors
  * in ONE fused pass (dot product and both norms together), with
  * whole-stage codegen — no per-element boxing, no intermediate
  * arrays, unlike the zip_with + aggregate composition.
  *
  * Float elements are widened to double per element and accumulated
  * strictly left-to-right, so results are bit-identical to the
  * sequential `list_sum(list_transform(...))` form the DuckDB oracle
  * uses (and to [[TextVec.cosine]], which this supersedes in hot
  * paths).
  *
  * Corrupt-embedding guards (all undetectable at type-check time):
  * mismatched vector lengths, zero-norm inputs, and a NULL element
  * inside either array return NULL rather than a silently-truncated
  * or garbage score — ArrayData.getFloat on a null slot reads an
  * undefined value, and the zip_with/list_transform forms this
  * expression claims bit-identity with null-propagate there.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; // null element: propagate, don't read garbage
         |    } else {
         |      double $xi = (double) $a.getFloat($i);
         |      double $yi = (double) $b.getFloat($i);
         |      $dot += $xi * $yi;
         |      $na += $xi * $xi;
         |      $nb += $yi * $yi;
         |    }
         |  }
         |  if (${ev.isNull}) {
         |  } else if ($na == 0.0 || $nb == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  val FunctionName = "graft_cosine_sim"

  /** Expression builder with an arity guard: `graft_cosine_sim(a)` in
    * SQL raises Spark's standard WRONG_NUM_ARGS analysis error naming
    * the function, instead of an IndexOutOfBoundsException from a
    * blind `exprs(1)`. Shared by [[apply]] and
    * [[graft.plans.GraftExtensions]]. */
  def builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$FunctionName`",
          "expectedNum" -> "2",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    CosineSimilarity(exprs(0), exprs(1))
  }

  /** Column entry point — registers through [[GraftFunctions.call]]. */
  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    GraftFunctions.call(spark, FunctionName, builder)(a, b)
  }
}
