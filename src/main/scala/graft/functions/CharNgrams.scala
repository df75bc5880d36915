package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the character n-grams of a string as
  * one fused pass — value-exact with the interpreted composition
  * `transform(sequence(1, length(s) - n + 1), i -> substr(s, i, n))`
  * (guarded to an empty array below n chars) that the frequency
  * sketches previously evaluated per row.
  *
  * Two costs the HOF pays that this removes: per-element lambda
  * dispatch over an interpreted Substring, and — the asymptotic one —
  * `substr`'s char-position seek from the START of the string for
  * every gram, O(len²) bytes touched per row on multi-byte text. Here
  * the char starts are walked ONCE (UTF8String.numBytesForFirstByte),
  * and each gram is a byte-range slice: O(len) walks, one byte copy
  * per gram (the array elements themselves — unavoidable, they ARE
  * the output).
  *
  * Semantics pinned by the parity spec: n-grams are CHARACTER-based
  * (multi-byte safe, same as `substr`); a string shorter than n
  * chars — AND a null string — yields an EMPTY array. The null case
  * matches the replaced composition exactly: its `when(length(s) >=
  * n, ...)` guard evaluates to a NULL condition on null input and
  * falls through to the `otherwise(empty)` branch, so the old
  * pipeline never produced a null array and downstream consumers
  * (the typed MG aggregator's `Seq[String]` input most of all) never
  * had to handle one. The corpus carries no null text today; the
  * robustness is kept so a future corpus can't NPE the sketch.
  */
case class CharNgrams(child: Expression, n: Int)
    extends UnaryExpression {

  // never null by CONTRACT (null input folds to the empty array the
  // replaced when/otherwise produced), so eval/doGenCode are custom —
  // the nullSafeEval/defineCodeGen pair would propagate child nulls
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${CharNgrams.FunctionName} expects string, got ${t.catalogString}")
    }

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) CharNgrams.emptyArray()
    else CharNgrams.compute(v.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          ${childGen.isNull} ?
            graft.functions.CharNgrams.emptyArray() :
            graft.functions.CharNgrams.compute(${childGen.value}, $n);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharNgrams {
  val FunctionName = "graft_char_ngrams"

  private val Empty = new GenericArrayData(new Array[Any](0))

  /** The shared empty result — public because generated code calls it
    * (the null-input fold). */
  def emptyArray(): ArrayData = Empty

  /** The fused n-gram pass, callable from generated code. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    require(n >= 1, s"$FunctionName: n must be >= 1, got $n")
    val bytes = s.getBytes
    val len = bytes.length
    // char start offsets, walked once — offs(i) is the byte offset of
    // char i, offs(nChars) == len, so gram i spans
    // [offs(i), offs(i + n))
    val offs = new Array[Int](len + 1)
    var nChars = 0
    var b = 0
    while (b < len) {
      offs(nChars) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      nChars += 1
    }
    offs(nChars) = len
    val grams = nChars - n + 1
    if (grams <= 0) Empty
    else {
      val out = new Array[Any](grams)
      var i = 0
      while (i < grams) {
        out(i) = UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Expression builder with an arity guard (the MinhashSignature
    * registration pattern). */
  def builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$FunctionName`",
          "expectedNum" -> "2",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    val n = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$FunctionName: n must be an integer literal, got $other")
    }
    CharNgrams(exprs(0), n)
  }

  /** Column entry point — registers on the session first, plus the
    * default session as a fallback (see [[WordNgrams.apply]]:
    * `call_function` resolves at analysis time against the
    * DataFrame's session, which may differ from the caller's). */
  def apply(spark: SparkSession, text: Column, n: Int): Column = {
    GraftFunctions.call(spark, FunctionName, builder)(text,
      org.apache.spark.sql.functions.lit(n))
  }
}
